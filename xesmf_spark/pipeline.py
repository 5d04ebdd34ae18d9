"""Large-scale training-data pipeline operators (text side).

Beyond the reference's regridding surface, this engine ships the
operators a 100-TB LLM-data pipeline needs, built Spark-first: every
hot path is built-in Column expressions (JVM, whole-stage codegen) —
no Python UDFs anywhere in this module.

Determinism contract: every hash is derived from ``md5`` (identical
across engines) via a fixed hex-prefix -> BIGINT mapping, and all
arithmetic stays within BIGINT range (values are reduced mod P before
multiplication), so the DuckDB oracle reproduces results bit-for-bit.

Operators:
- ``normalize_text`` / ``tokens``          — canonical text form
- ``exact_dedup``                          — hash-groupBy exact dedup
- ``minhash_signatures``                   — k min-hashes over token shingles
- ``lsh_candidate_pairs``                  — banded LSH bucket-join (never all-pairs)
- ``minhash_dedup_pairs``                  — candidates verified with EXACT Jaccard
- ``simhash``                              — bit-majority fingerprint
- ``ngram_jaccard_pairs``                  — exact n-gram Jaccard within a blocking key
- ``text_stats``                           — tokens/chars/stopword/punct/langid/quality
- ``doc_fingerprint``                      — bottom-k sketch fingerprint

Scale notes (the 100-TB shapes):
- exact dedup: one shuffle on a 16-byte digest — the minimum possible;
- MinHash-LSH: shingle explode is map-side; signatures are one shuffle
  keyed by doc id; candidate generation is an EQUI-join on (band,
  band_hash) buckets, so cost is sum of squares of bucket sizes, never
  |docs|^2; verification joins only the candidate pairs;
- simhash/stats/fingerprint: embarrassingly parallel projections.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xesmf_spark.materialize import mark, pin, release_since
from xesmf_spark.session import shuffle_partition_count

#: modulus keeping all hash arithmetic < 2^60 (ANSI-safe in both engines)
P = 1_000_000_007
#: stopword list for the ratio/langid heuristics (tiny, embedded)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")

SHINGLE = 3  #: tokens per shingle
K_HASHES = 16  #: minhash signature length
BANDS = 4  #: LSH bands (rows per band = K_HASHES // BANDS)
#: skew valve: LSH buckets larger than this are dropped from candidate
#: generation. A real corpus always has a degenerate bucket (empty and
#: boilerplate documents share one signature), and a single bucket of m
#: docs costs m^2/2 candidate pairs — one 1M-doc boilerplate bucket is
#: 5e11 pairs, which no amount of cluster survives. Dropping the bucket
#: is safe for DEDUP because its members are (near-)identical to each
#: other in the degenerate way exact_dedup already catches with one
#: 24-byte-row shuffle; run exact dedup first (as pipeline docs say).
MAX_LSH_BUCKET = 1000

# editdist blocks pay O(len^2) DP per pair (vs the LSH bucket's O(1)
# candidate emit), so the quadratic valve trips much earlier
MAX_EDITDIST_BLOCK = 200
#: skew valve: shingles whose within-block document frequency exceeds
#: this are excluded from the n-gram intersection join (standard
#: plagiarism-detection hygiene): a stop-shingle present in every doc
#: of a block makes the shingle self-join quadratic in the block size.
#: Dropping it removes ~no information (a shingle shared by everyone
#: distinguishes nothing) but undercounts the intersection slightly —
#: the Jaccard denominator keeps the FULL set sizes, so capped scores
#: only ever decrease (conservative for a >= threshold filter).
MAX_SHINGLE_DF = 64


def let(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per
    row and reference it any number of times inside ``body``.

    Catalyst's CollapseProject inlines a projected expression into every
    downstream reference, and higher-order-function lambdas fall back to
    interpreted evaluation (no whole-stage codegen, hence no runtime
    common-subexpression elimination) — so k fold columns over one
    expensive array recompute that array k times. Binding it as a
    single-element-array lambda variable makes references O(1) reads:
    measured 5-6x on simhash/minhash, whose md5 hash arrays feed 8-16
    folds."""
    return F.transform(F.array(value), body)[0]


def _a(i: int) -> int:
    return 2 * i + 1


def _b(i: int) -> int:
    return 97 * i + 13


def normalize_text(col: Column) -> Column:
    """Canonical form: lowercase, whitespace collapsed, trimmed."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def base_hash(col: Column) -> Column:
    """String -> BIGINT in [0, P): first 60 bits of md5, reduced mod P.
    ``md5`` matches across engines; 15 hex chars fit a positive BIGINT."""
    return (
        F.conv(F.substring(F.md5(F.encode(col, "utf-8")), 1, 15), 16, 10).cast("long") % P
    )


def wide_hash(col: Column) -> Column:
    """String -> BIGINT in [0, 2^60): first 15 md5 hex chars, UN-reduced.
    Use when the bits themselves matter (simhash votes) — the mod-P
    reduction in :func:`base_hash` exists only to keep subsequent
    multiplications ANSI-safe and would leave bits >= 30 biased."""
    return F.conv(F.substring(F.md5(F.encode(col, "utf-8")), 1, 15), 16, 10).cast("long")


def positioned_ngrams(t: Column, n: int) -> Column:
    """Array of ALL positioned token ``n``-grams of a token array —
    duplicates kept, one gram per start position; a doc shorter than
    ``n`` tokens contributes its whole (joined) text as the single
    gram (the short-doc convention every consumer and every DuckDB
    oracle replays). This clamp expression is LOAD-BEARING for oracle
    agreement — :func:`shingles`, :func:`dedup_spans`, and the
    heavy-hitters token stream all share THIS definition rather than
    re-deriving it."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
    )


def shingles(col: Column, n: int = SHINGLE) -> Column:
    """Distinct token n-grams (as strings) of the normalized text."""
    return F.array_distinct(positioned_ngrams(tokens(col), n))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup groups: md5 digest of the NORMALIZED text -> one
    shuffle (hash agg) keyed by the digest. Returns one row per distinct
    content: (content_key, keep_id = min doc id, n_docs).

    100-TB shape: the map side projects (digest, id) only — 24 bytes a
    row into the shuffle regardless of document size; AQE coalesces the
    post-agg partitions.
    """
    key = F.md5(F.encode(normalize_text(F.col(text_col)), "utf-8")).alias("content_key")
    return (
        df.select(key, F.col(id_col))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = K_HASHES,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}): k permutation-style min-hashes over the
    document's distinct token shingles.

    h_i(s) = (a_i * H(s) + b_i) mod P with H the md5-derived base hash —
    H is reduced mod P FIRST so a_i * H never overflows BIGINT (ANSI
    mode). Computed as a PURE PROJECTION (``array_min`` over the shingle
    hash array) — no explode, no shuffle, embarrassingly parallel.

    Single construction path (r6 verdict): the array form
    (:func:`_sig_array`, what ``minhash_dedup_pairs`` consumes) IS the
    production shape; the wide ``sig_i`` columns here are just its
    API-boundary projection. The two-step select is deliberate —
    CollapseProject refuses to inline a non-cheap producer referenced
    k times, so the signature array (and its md5 pass) is computed
    ONCE per row, not per column (measured 2x vs the old per-column
    let-bound build).
    """
    arr = _sig_array(shingles(F.col(text_col)), k)
    return df.select(F.col(id_col), arr.alias("_sig")).select(
        F.col(id_col), *[F.col("_sig")[i].alias(f"sig_{i}") for i in range(k)]
    )


def _sig_array(sh_set: Column, k: int = K_HASHES) -> Column:
    """``sh_set`` (array<string>) -> array<long> of the k min-hashes,
    as ONE let-bound expression: the md5-derived base-hash array is
    computed once per row and shared by all k permutations (16 separate
    sig columns would each inline — and recompute — it, see :func:`let`).
    """

    def _perm(i: int):
        return lambda h: (F.lit(_a(i)) * h + F.lit(_b(i))) % P

    hs = F.transform(sh_set, lambda s: base_hash(s))
    return let(
        hs,
        lambda hsv: F.array(
            *[F.array_min(F.transform(hsv, _perm(i))) for i in range(k)]
        ),
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    k: int = K_HASHES,
    bands: int = BANDS,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """Banded LSH: equal band-signature => candidate pair.

    Each doc emits ``bands`` rows keyed by (band_id, md5 of the band's
    signature slice); a self-equi-join on that key yields candidates.
    This is the bucket-join that keeps near-dedup scalable: cost follows
    bucket sizes, never |docs|^2 — with buckets above ``max_bucket``
    excluded entirely (see :data:`MAX_LSH_BUCKET`). Returns distinct
    (id_a < id_b) pairs.
    """
    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.encode(F.concat_ws("_", *parts), "utf-8")).alias("bh"),
            )
        )
    buckets = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    return _pairs_from_buckets(buckets, id_col, max_bucket=max_bucket)


def _buckets_from_sig_array(
    sigs: DataFrame, id_col: str, k: int = K_HASHES, bands: int = BANDS
) -> DataFrame:
    """(id, sig array<long>) -> (id, band, bh) bucket rows. ``sigs``
    should be persisted: the 16 element reads below then hit the
    materialized array instead of re-inlining its computation."""
    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col("sig")[b * rows + r] for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.encode(F.concat_ws("_", *parts), "utf-8")).alias("bh"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def _pairs_from_buckets(
    buckets: DataFrame,
    id_col: str,
    max_bucket: int | None = MAX_LSH_BUCKET,
    log_drops: bool = False,
) -> DataFrame:
    """Self-equi-join the (band, bh) bucket rows into candidate pairs,
    with the :data:`MAX_LSH_BUCKET` skew valve: oversized buckets are
    excluded BEFORE the join. The valve is a window count over the
    SAME (band, bh) key the self-join uses, and the counted bucket
    rows are pinned (docs x bands rows — id + band + hash, bounded):
    one exchange materializes once and the valve filter, the optional
    drop-count job, and BOTH self-join sides read it with no further
    exchange (the earlier
    size-aggregate + join-back shape paid a second corpus-bucket
    exchange plus a full recompute for the ``log_drops`` count).
    ``log_drops`` triggers one extra small job counting the dropped
    buckets (a cached scan)."""
    if max_bucket is not None:
        from pyspark.sql import Window

        counted = pin(buckets.withColumn(
            "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bh"))
        ))
        if log_drops:
            import logging

            n_over = (
                counted.filter(F.col("bucket_n") > max_bucket)
                .select("band", "bh")
                .distinct()
                .count()
            )
            if n_over:
                logging.getLogger(__name__).warning(
                    "lsh_candidate_pairs: dropping %d bucket(s) larger than "
                    "%d docs (degenerate/boilerplate content — run "
                    "exact_dedup first; pairs inside them are not emitted)",
                    n_over,
                    max_bucket,
                )
        buckets = counted.filter(F.col("bucket_n") <= max_bucket).drop("bucket_n")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates VERIFIED with exact
    shingle-set Jaccard (no false positives — LSH only bounds recall).
    Returns (id_a, id_b, jaccard) with jaccard >= threshold.

    The verify join touches only candidate pairs' shingle sets, and the
    shingle table is computed ONCE (persisted) and shared between the
    signature aggregation and the verification join — shingling (regex +
    tokenize + n-gram) is the expensive map-side step and must not run
    per consumer.
    """
    sh = pin(
        df.select(
            F.col(id_col).alias("sid"), shingles(F.col(text_col)).alias("sh_set")
        ).withColumn("n_sh", F.size("sh_set"))
    )
    ex = sh.select("sid", F.explode("sh_set").alias("shingle"))

    # signatures as ONE let-bound array column (base hashes computed
    # once per doc, not once per sig), persisted because the bucket
    # construction reads 16 elements and the bucket self-join has two
    # consumers — output-sized (k longs per doc), cheap to pin
    sigs = pin(sh.select(
        F.col("sid").alias(id_col), _sig_array(F.col("sh_set")).alias("sig")
    ))
    cand = _pairs_from_buckets(
        _buckets_from_sig_array(sigs, id_col),
        id_col,
        max_bucket=max_bucket,
        log_drops=True,  # sigs is persisted — the drop count is cheap
    )

    # verify with array_intersect over the persisted per-doc shingle
    # SETS (shingles() is array_distinct, so |array_intersect| IS the
    # intersection cardinality the exploded double-join counted): two
    # candidate-keyed joins replace the former four (two corpus-wide
    # exploded-shingle joins + two size look-ups) and nothing
    # candidate x shingle ever enters a shuffle. The n_inter > 0 guard
    # keeps the old inner-join semantics (a zero-overlap candidate
    # produced no row there) for any threshold, including 0.
    sets = sh.select("sid", "sh_set", "n_sh")
    return (
        cand.join(sets.alias("sa"), F.col("id_a") == F.col("sa.sid"))
        .join(sets.alias("sb"), F.col("id_b") == F.col("sb.sid"))
        .withColumn(
            "n_inter", F.size(F.array_intersect("sa.sh_set", "sb.sh_set"))
        )
        .filter(F.col("n_inter") > 0)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_groups(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Near-duplicate pair graph -> per-document keep verdicts:
    connected components by iterative min-label propagation, emitting
    (doc_id, keep_id = smallest id in the component). This is what a
    corpus pipeline actually consumes — pairs alone aren't actionable
    (A~B, B~C must collapse to one kept document, transitively).

    ``pairs``: (id_a, id_b) rows (any extra columns ignored).
    ``nodes``: optional (id_col) universe; documents in no pair appear
    with keep_id = their own id (singleton components).

    Scale shape: each round is ONE equi-join of the label table against
    the edge list plus a min-aggregate — O(|E|) shuffle per round, all
    keyed joins (never all-pairs). Round count equals the component
    DIAMETER, which for dedup graphs is small by construction (LSH
    clusters are near-cliques; the planted corpus converges in 2). The
    O(log n)-round alternating star-contraction of Kiveris et al.
    ("Connected Components in MapReduce", SOCC'14) is the drop-in
    upgrade if adversarial long-chain graphs ever matter. The driver
    loop runs ONE Spark job per round (the checkpoint, which carries
    the previous label so the convergence count is a limit-1 scan
    over the materialized frame), never collects data rows.
    """
    half = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # pre-partition the persisted edge list on dst — the key EVERY
    # round's propagation join uses — so each round shuffles only the
    # O(N) label table against the cached partitioning instead of
    # re-exchanging |E| edges per round (guide §2.4; partition count
    # inherits spark.sql.shuffle.partitions, scale-adaptive via conf);
    # released after the loop, whose every label frame is an eager
    # checkpoint
    depth = mark()
    edges = pin(
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).repartition(F.col("dst"))
    )
    # localCheckpoint (not persist) each round: persist keeps the FULL
    # logical plan, which nests once per round and grows exponentially
    # with the convergence-check join (a 12-round chain OOMed the
    # planner); checkpointing truncates lineage so every round plans
    # against a flat materialized table — the standard shape for
    # iterative Spark algorithms
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "lbl")
        )
        # the convergence check is FOLDED into the round's checkpoint:
        # carry the previous label through the min-agg (the old-label
        # join reuses the agg's node partitioning, and the node sets
        # are identical by construction — prop nodes are edge srcs,
        # i.e. label nodes), so "changed" is a scan over the
        # just-materialized frame instead of a second O(N)-join JOB
        # per round (one exchange of new_labels + one job removed per
        # round; guide §2.4)
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .join(labels.withColumnRenamed("lbl", "old"), "node")
            .localCheckpoint()
        )
        changed = (
            new_labels.filter(F.col("lbl") != F.col("old")).limit(1).count()
        )
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            break
    release_since(depth)
    comp = labels.select(F.col("node"), F.col("lbl").alias("keep_id"))
    if nodes is None:
        return comp.select(F.col("node").alias(id_col), "keep_id")
    return (
        nodes.select(id_col)
        .join(comp, nodes[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("keep_id"), F.col(id_col)).alias("keep_id"),
        )
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash fingerprint: per bit position, the sign of the sum of
    (+1/-1) votes from every DISTINCT token's hash bit; fingerprint =
    sum of 2^b over positive positions. Near-identical texts differ in
    few bits (Hamming distance), enabling radius search by fingerprint
    prefix buckets.

    Shape: a PURE PROJECTION — the distinct-token hash array is built
    once per document (let-bound, see :func:`let`) and the bit votes are
    SWAR-packed ``aggregate()`` folds over it (the same no-explode
    pattern as ``minhash_signatures``). Zero shuffle, embarrassingly
    parallel at any scale.

    Votes use :func:`wide_hash` (un-reduced 60-bit md5 prefix), so all
    ``bits`` positions (up to 60) genuinely vary — the earlier mod-P
    hash left bits >= 30 constant. The +1/-1 vote sum per bit b equals
    ``2*S_b - n`` with ``S_b`` the popcount of bit b over n tokens, so
    "sum > 0" is tested as ``2*S_b > n`` on packed popcounts.
    """
    if not 1 <= bits <= 60:
        raise ValueError("simhash bits must be in [1, 60]")
    hs = F.transform(
        F.array_distinct(tokens(F.col(text_col))), lambda t: wide_hash(t)
    )

    # SWAR packing: one fold accumulates FOUR bit-popcounts at once.
    # spread(x) = ((x & 15) * (1|1<<14|1<<28|1<<42)) & (1|1<<15|1<<30|1<<45)
    # places bits 0..3 of x at positions 0/15/30/45, so summing spread
    # values over tokens yields four 15-bit counters per accumulator
    # (safe to 32767 distinct tokens/doc -- see the NULL guard below).
    # bits/4 folds instead of one per bit, and the whole fingerprint is
    # ONE let-bound expression: the md5 hash array and the pack results
    # are each computed once per row (see :func:`let`). Zero shuffle.
    MUL = 1 | (1 << 14) | (1 << 28) | (1 << 42)
    MSK = 1 | (1 << 15) | (1 << 30) | (1 << 45)
    n_packs = (bits + 3) // 4

    def _spread(h: Column, g: int) -> Column:
        gm = (1 << min(4, bits - g)) - 1
        return (F.shiftright(h, g).bitwiseAND(F.lit(gm)) * F.lit(MUL)).bitwiseAND(
            F.lit(MSK)
        )

    def _body(hsv: Column) -> Column:
        n = F.size(hsv)
        zero = F.struct(
            *[F.lit(0).cast("long").alias(f"p{j}") for j in range(n_packs)]
        )
        # ONE fold pass: the struct accumulator carries all pack counters,
        # so HOF per-element dispatch is paid once per token, not once per
        # pack (measured ~20% over 8 separate folds, ~2.5x over the
        # pre-let 32-fold version)
        packs = F.aggregate(
            hsv,
            zero,
            lambda acc, h: F.struct(
                *[
                    (acc[f"p{j}"] + _spread(h, 4 * j)).alias(f"p{j}")
                    for j in range(n_packs)
                ]
            ),
        )

        def _extract(s: Column) -> Column:
            terms = None
            for b in range(bits):
                t = F.when(
                    F.shiftright(s[f"p{b // 4}"], 15 * (b % 4)).bitwiseAND(
                        F.lit(0x7FFF)
                    )
                    * 2
                    > n,
                    F.lit(1 << b).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                terms = t if terms is None else terms + t
            # counters are 15-bit: a doc with >32767 distinct tokens
            # would silently wrap -- surface as NULL (oracle mirrors)
            return F.when(n <= 0x7FFF, terms)

        return let(packs, _extract)

    return df.select(F.col(id_col), let(hs, _body).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    radius: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the banded
    radius search that turns fingerprint dedup into equi-joins.

    EXACTNESS (pigeonhole): with ``n_bands = radius + 1`` bands, any
    pair within Hamming ``radius`` differs in at most ``radius`` bit
    positions, which can touch at most ``radius`` bands — so at least
    one band is IDENTICAL and the pair lands in a shared bucket. The
    banded equi-join therefore has 100%% recall at the radius (unlike
    MinHash-LSH's probabilistic recall); candidates are then verified
    with the exact popcount-of-XOR distance, so precision is exact too.

    Scale shape: fingerprints are a pure projection (see
    :func:`simhash`); banding explodes ``n_bands`` small rows per doc;
    the candidate join is an equi-join on (band, value) with the SAME
    :data:`MAX_LSH_BUCKET` skew valve as MinHash (oversized buckets —
    e.g. all empty/boilerplate docs collapsing to fingerprint 0 —
    are dropped BEFORE the join; run exact dedup first). With 32-bit
    prints and 4 bands a band is 8 bits (256 bucket values) — fine up
    to ~10^5 docs per corpus-shard; at 100 TB use ``bits=60,
    n_bands=4`` so each 15-bit band yields 32k buckets, keeping the
    same plan shape. Returns (id_a, id_b, hamming), id_a < id_b.

    CACHING CONTRACT (all persisting operators in this module): the
    fingerprint intermediate is pinned with
    :func:`xesmf_spark.materialize.pin` (MEMORY_AND_DISK, LRU-evictable
    — bounded, not a hard leak); long-lived sessions invoking these
    operators repeatedly should call
    :func:`xesmf_spark.release_persisted` (or
    ``spark.catalog.clearCache()``) between invocations, as bench.py
    does between timed runs.
    """
    if bits % n_bands != 0:
        raise ValueError("bits must divide evenly into n_bands")
    if n_bands < radius + 1:
        raise ValueError(
            "n_bands must be >= radius + 1 for exact recall at the radius"
        )
    width = bits // n_bands
    mask = (1 << width) - 1
    # persist the fingerprint table (2 longs/doc): the valve sizing, the
    # a-side and the b-side of the candidate join all read it — without
    # this the md5 fingerprint pass runs 3x over the corpus
    sh = pin(
        simhash(df, id_col=id_col, text_col=text_col, bits=bits)
        .filter(F.col("simhash").isNotNull())
    )
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("band"),
                        F.shiftright("simhash", g * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for g in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    if max_bucket is not None:
        # valve as a window count over the SAME (band, bh) key the
        # self-join uses — one exchange shared by both join sides (AQE
        # exchange reuse) instead of size-aggregate + join-back: the
        # same shape already shipped in hamming_pairs / minhash /
        # containment (0.7-0.8x A/B there)
        bands = (
            bands.withColumn(
                "bucket_n",
                F.count(F.lit(1)).over(Window.partitionBy("band", "bh")),
            )
            .filter(F.col("bucket_n") <= max_bucket)
            .drop("bucket_n")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
    )
    # verify with the exact Hamming distance BEFORE deduplicating: the
    # popcount is a cheap map-side projection, and filtering first
    # shrinks the distinct's shuffle from ALL shared-band candidates
    # (each pair up to n_bands times) to only the within-radius pairs
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang", "source"),
    n: int = SHINGLE,
    threshold: float = 0.0,
    max_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact token-n-gram Jaccard for every pair WITHIN a blocking key
    (e.g. same lang+source). Blocking turns the quadratic all-pairs into
    a per-bucket join — the classic scalable shape when a natural
    partition key exists; use MinHash-LSH when it doesn't.

    Shingles with within-block document frequency above ``max_df`` are
    excluded from the intersection join (see :data:`MAX_SHINGLE_DF`):
    the intersection join's cost is sum over shingles of DF^2, so one
    stop-shingle in an m-doc block alone costs m^2 — the quadratic
    blow-up blocking was supposed to prevent. Set sizes (the Jaccard
    denominator) stay uncapped, so capped scores only decrease.
    """
    sh = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("sid"),
        shingles(F.col(text_col), n).alias("sh_set"),
    ).withColumn("n_sh", F.size("sh_set"))
    ex = sh.select(*block_cols, "sid", F.explode("sh_set").alias("shingle"))
    if max_df is not None:
        # DF valve as a window count over the SAME (block, shingle) key
        # the intersection join uses — one exchange that the join's two
        # identical sides then share (AQE exchange reuse), instead of
        # the former size-aggregate + join-back's extra exchange
        ex = (
            ex.withColumn(
                "df_n",
                F.count(F.lit(1)).over(
                    Window.partitionBy(*block_cols, "shingle")
                ),
            )
            .filter(F.col("df_n") <= max_df)
            .drop("df_n")
        )
    inter = (
        ex.alias("ea")
        .join(
            ex.alias("eb"),
            [*block_cols, "shingle"],
        )
        .filter(F.col("ea.sid") < F.col("eb.sid"))
        .groupBy(F.col("ea.sid").alias("id_a"), F.col("eb.sid").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.select("sid", "n_sh")
    return (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.sid"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.sid"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > threshold)
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def rolling_hash(col: Column) -> Column:
    """Polynomial rolling hash of the NORMALIZED text (classic Rabin-
    Karp form, base 131 mod P) — an order-sensitive content digest
    (anagram-proof, unlike bag-of-token hashes). Pure Column fold."""
    return F.aggregate(
        F.split(normalize_text(col), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 131 + F.ascii(ch)) % P,
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 8,
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram
    of the normalized text, slide a window of ``w`` consecutive hashes,
    and keep the RIGHTMOST MINIMUM of each window.  The selected set is
    position-robust (any shared substring of length ≥ k + w − 1
    guarantees a shared fingerprint — the winnowing theorem), ~2/(w+1)
    density, and content-addressed — the citation-grade plagiarism /
    overlap primitive between exact hashing (:func:`rolling_hash`, one
    digest per doc) and shingle Jaccard (every gram kept).

    Deterministic, engine-exact: gram hash = :func:`base_hash` (md5,
    identical both engines); rightmost-min tie-break is folded into ONE
    exact integer key ``hb·2^20 + (2^20 − 1 − pos)`` so a single MIN
    agg selects hash-then-rightmost-position (no nondeterministic
    min_by ties); docs longer than 2^20 normalized chars raise loudly.
    Docs with fewer than ``w`` grams keep one fingerprint (the global
    rightmost min — the single complete window over the whole doc), so
    every non-empty doc is represented.

    Scale shape: one projection + one explode of ``w`` window
    memberships per gram (w is a small domain constant) + one
    (doc, window)-keyed map-side-combinable MIN + one distinct — all
    linear in corpus characters, zero joins.  Output:
    ``(id, fp_hash, fp_pos)`` distinct fingerprints."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    norm = (
        df.select(F.col(id_col).alias("__id"), normalize_text(F.col(text_col)).alias("__nt"))
        .select(
            "__id",
            F.expr(
                "CASE WHEN length(__nt) > 1048575 THEN "
                "CAST(raise_error('winnowing_fingerprints: doc exceeds 2^20 "
                "normalized chars — the packed tie-break key would overflow') "
                "AS STRING) ELSE __nt END"
            ).alias("nt"),
        )
        .filter(F.length("nt") > 0)
    )
    grams = norm.select(
        "__id",
        F.greatest(F.length("nt") - k, F.lit(0)).alias("__lmax"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, greatest(length(nt) - {k}, 0)), "
                f"i -> substring(nt, i + 1, {k}))"
            )
        ).alias("pos0", "g"),
    ).select(
        "__id",
        "__lmax",
        "pos0",
        (base_hash(F.col("g")) * F.lit(1048576) + (F.lit(1048575) - F.col("pos0"))).alias(
            "__key"
        ),
    )
    wins = (
        grams.select(
            "__id",
            "__lmax",
            "__key",
            F.explode(F.sequence(F.col("pos0"), F.col("pos0") + (w - 1))).alias("p"),
        )
        .filter(
            (F.col("p") <= F.col("__lmax"))
            & ((F.col("p") >= w - 1) | (F.col("p") == F.col("__lmax")))
        )
        .groupBy("__id", "p")
        .agg(F.min("__key").alias("__key"))
    )
    return (
        wins.select(
            F.col("__id").alias(id_col),
            F.expr("__key div 1048576").alias("fp_hash"),
            (F.lit(1048575) - F.pmod(F.col("__key"), F.lit(1048576))).alias("fp_pos"),
        )
        .distinct()
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 8,
    min_shared: int = 2,
    max_df: int = MAX_SHINGLE_DF,
    min_containment_milli: int = 0,
) -> DataFrame:
    """Document-overlap candidate pairs from shared winnowing
    fingerprints — the MOSS report stage: docs sharing ≥ ``min_shared``
    distinct fingerprints, with the exact containment fraction
    ``containment_milli = (1000 · n_shared) div min(n_a, n_b)``;
    pairs below ``min_containment_milli`` are dropped (on a small
    shared vocabulary, raw fingerprint co-occurrence pairs topically
    similar docs — the containment threshold is what separates
    verbatim overlap from topic overlap).  Fingerprints in more than
    ``max_df`` docs are boilerplate and excluded from pairing (the
    :data:`MAX_SHINGLE_DF` valve — candidate GENERATION is bounded;
    per-doc totals stay full).

    Scale shape: fingerprint build (linear, see
    :func:`winnowing_fingerprints`), one hash-keyed df count, one
    hash-keyed self-equi-join bounded by the df valve, one pair-keyed
    agg + two doc-size joins — the shingle-intersection economics.
    The distinct fingerprint set is PERSISTED (it is ~2/(w+1) of the
    gram volume and feeds four consumers — sizes, df counts, both join
    legs; without the persist Spark replays the char-gram explode per
    consumer: measured 1.8× at sf0.1)."""
    fp = winnowing_fingerprints(df, id_col, text_col, k=k, w=w)
    hashes = pin(fp.select(F.col(id_col).alias("sid"), "fp_hash").distinct())
    sizes = hashes.groupBy("sid").agg(F.count(F.lit(1)).alias("n_fp"))
    dfc = hashes.groupBy("fp_hash").agg(F.countDistinct("sid").alias("__df"))
    rare = hashes.join(
        dfc.filter(F.col("__df") <= max_df).select("fp_hash"), "fp_hash"
    )
    a = rare.select(F.col("sid").alias("id_a"), "fp_hash")
    b = rare.select(F.col("sid").alias("id_b"), "fp_hash")
    inter = (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp_hash").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        inter.join(
            sizes.select(F.col("sid").alias("id_a"), F.col("n_fp").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("sid").alias("id_b"), F.col("n_fp").alias("__nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.expr("(1000L * n_shared) div least(__na, __nb)").alias(
                "containment_milli"
            ),
        )
        .filter(F.col("containment_milli") >= min_containment_milli)
    )


def rake_keyphrases(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_phrase_len: int = 4,
    topk: int = 3,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010) —
    the PHRASE-level keyword rung above single-token TextRank: split
    each doc's token stream into CANDIDATE PHRASES at stopword /
    non-alphanumeric delimiters (maximal runs of content tokens, capped
    at ``max_phrase_len``), score each content word by

        word_score_milli = (1000 · degree(w)) div freq(w)

    where, per the paper, ``freq(w)`` counts the word's occurrences in
    candidate phrases and ``degree(w)`` sums the lengths of the phrases
    containing it (co-occurrence incl. itself); a phrase scores the sum
    of its words' milli scores.  Word statistics are DOC-LOCAL (RAKE is
    a per-document extractor).  Top-``topk`` phrases per doc by
    (score DESC, first position ASC) — fully deterministic, exact
    BIGINT milli arithmetic.

    Scale shape: one posexplode + one per-doc gaps-and-islands window
    builds the phrase runs (linear in tokens), phrase/word stats are
    two (doc, ·)-keyed map-side-combinable aggs, scoring one keyed
    join back, top-k one per-doc ROWS window.  The run table feeds
    FOUR consumers (phrases, members, both stat joins), so it is
    PERSISTED — the dedup_spans toks_df discipline (corpus-token-
    shaped, spills to disk at scale; without it Spark replays the
    explode+window per consumer — measured 2.15× at sf0.1).  Output:
    ``(id, phrase, n_words, score_milli, first_pos)``."""
    if max_phrase_len < 1 or topk < 1:
        raise ValueError(
            f"max_phrase_len and topk must be >= 1, got "
            f"{max_phrase_len}/{topk}"
        )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    ).withColumn(
        "is_delim",
        F.array_contains(stop_arr, F.col("tok"))
        | ~F.col("tok").rlike("^[a-z0-9]+$")
        | (F.col("tok") == ""),
    )
    # gaps-and-islands: a content token starts a new phrase iff the
    # previous position was a delimiter (or doc start)
    wp = Window.partitionBy("__id").orderBy("pos")
    runs = pin(
        toks.withColumn(
            "brk",
            F.when(
                (~F.col("is_delim"))
                & F.coalesce(F.lag("is_delim").over(wp), F.lit(True)),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run",
            F.sum("brk").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .filter(~F.col("is_delim"))
    )
    phrases = (
        runs.groupBy("__id", "run")
        .agg(
            F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("pos", "tok")))
                        .getField("tok")).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
            F.min("pos").alias("first_pos"),
        )
        .filter(F.col("n_words") <= max_phrase_len)
    )
    # doc-local word stats over candidate-phrase members only
    members = runs.join(
        phrases.select("__id", "run"), ["__id", "run"]
    ).select("__id", "run", "tok")
    ph_len = phrases.select("__id", "run", "n_words")
    wstats = (
        members.join(ph_len, ["__id", "run"])
        .groupBy("__id", "tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("degree"),
        )
        .select(
            "__id",
            "tok",
            F.expr("(1000L * degree) div freq").alias("wscore_milli"),
        )
    )
    scored = (
        members.join(wstats, ["__id", "tok"])
        .groupBy("__id", "run")
        .agg(F.sum("wscore_milli").alias("score_milli"))
        .join(phrases, ["__id", "run"])
    )
    wtop = Window.partitionBy("__id").orderBy(
        F.desc("score_milli"), F.asc("first_pos")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= topk)
        .select(
            F.col("__id").alias(id_col),
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            "score_milli",
            F.col("first_pos").cast("long").alias("first_pos"),
        )
    )


#: BPE-ish pre-tokenization pattern over normalized text: letter runs,
#: digit runs, and single punctuation marks (the usual byte-pair
#: pre-split shape, minus byte-level fallback)
BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def text_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document analysis row: token/char counts, mean token length,
    stopword + punctuation ratios, an n-gram-free language-ID heuristic
    (stopword hit rate), and a [0,1] quality score combining length and
    stopword signals (the usual cheap pre-filter for LLM corpora).

    Pure Column projection — embarrassingly parallel, no shuffle.
    """
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    mean_tok_len = (
        F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)).cast(
            "double"
        )
        / n_tok.cast("double")
    )
    stop_ratio = n_stop.cast("double") / n_tok.cast("double")
    punct_ratio = n_punct.cast("double") / n_chars.cast("double")
    quality = (
        F.least(n_tok.cast("double") / F.lit(64.0), F.lit(1.0)) * F.lit(0.5)
        + F.least(stop_ratio * F.lit(10.0), F.lit(1.0)) * F.lit(0.5)
    )
    n_bpe = F.size(
        F.regexp_extract_all(normalize_text(F.col(text_col)), F.lit(BPE_ISH), 0)
    )
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_chars.cast("long").alias("n_chars"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        F.when(stop_ratio >= 0.02, F.lit("en")).otherwise(F.lit("unknown")).alias(
            "lang_pred"
        ),
        quality.alias("quality"),
    )


#: tiny embedded character-trigram profiles (top trigrams per language,
#: ASCII only) — the classic Cavnar-Trenkle n-gram language-ID reduced
#: to a fixed profile-hit rate. Order matters: ties resolve in this
#: priority order in BOTH engines.
LANG_TRIGRAMS = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing",
           "ng ", " to", "to ", "ion", " in", "ed ", "er ", " is", "is ",
           "at ", "es ", "tio", "ent", " co", "on ", "re "),
    "de": ("en ", "er ", " de", "der", "ie ", " di", "die", "sch", "ein",
           "ich", "nde", " un", "und", "che", "ung", "gen", " ge", "ten",
           " ei", "cht", "das", " da", "ber", "ver", "ht "),
    "fr": (" de", "de ", "es ", " le", "le ", "ent", "nt ", "et ", " et",
           "la ", " la", "ion", "re ", " pa", "que", " qu", "ue ", "ais",
           "ur ", "eur", "our", "les", "des", " un", "ons"),
    "es": (" de", "de ", "la ", " la", "os ", "el ", " el", "en ", " en",
           "que", " qu", "ue ", "as ", "ion", "es ", " es", "ado", " co",
           "con", "nte", "ien", "cio", " se", "los", "dos"),
}

#: below this best profile-hit rate the prediction is 'unknown'
LANGID_MIN_SCORE = 0.05


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon character entropy — the cheap gibberish /
    binary-junk detector every corpus filter runs before anything
    smarter (natural English sits ~4.1 nats of char entropy; base64
    blobs, key dumps and mashed-keyboard spam sit far higher, repeated
    -character padding far lower).

    Integer micro-nat discipline (the bigram-LM playbook): using
    H = ln(n) − (Σ_c cnt_c·ln cnt_c)/n, each per-character term is
    floored to BIGINT micro-nats BEFORE the sum, so the aggregation is
    order-independent and engine-exact:

        entropy_micro = floor(1e6·ln n) − (Σ_c floor(1e6·(cnt_c·ln cnt_c))) DIV n

    (both engines evaluate the identical double expression per distinct
    character, then do exact BIGINT arithmetic — no float summation
    order anywhere).

    Scale shape: explode to characters (linear), two map-side-
    combinable keyed aggs on doc_id — one exchange keyed by document,
    no global state. Output: (doc_id, n_chars, n_distinct_chars,
    entropy_micro); empty documents are absent (no characters — their
    entropy is undefined, filter them with n_chars upstream)."""
    chars = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")  # Spark splits "" to [""]; DuckDB to []
    per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    cnt_d = F.col("cnt").cast("double")
    term = F.floor(F.lit(1_000_000.0) * (cnt_d * F.log(cnt_d))).cast("long")
    agg = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(term).alias("__s"),
    )
    n_d = F.col("n_chars").cast("double")
    return agg.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        (
            F.floor(F.lit(1_000_000.0) * F.log(n_d)).cast("long")
            - F.expr("__s DIV n_chars")
        ).alias("entropy_micro"),
    )


def langid_ngram(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-n-gram language ID: the normalized text (padded with
    spaces so word boundaries count) is cut into overlapping trigrams;
    each language scores the fraction of trigrams hitting its embedded
    profile; argmax wins, 'unknown' below :data:`LANGID_MIN_SCORE`.
    Returns (id, score_<lang>..., lang_pred).

    Pure Column projection — the trigram array is let-bound (computed
    once, filtered per language), zero shuffle; the DuckDB oracle
    mirrors the same list ops and the same tie-break CASE order.
    """
    padded = F.concat(F.lit(" "), normalize_text(F.col(text_col)), F.lit(" "))
    n = F.length(padded)
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: padded.substr(i, F.lit(3)),
    )

    def scores(trv: Column) -> Column:
        fields = []
        for lang, prof in LANG_TRIGRAMS.items():
            parr = F.array(*[F.lit(g) for g in prof])
            hits = F.size(F.filter(trv, lambda x: F.array_contains(parr, x)))
            fields.append(
                (hits.cast("double") / F.size(trv).cast("double")).alias(
                    f"score_{lang}"
                )
            )
        return F.struct(*fields)

    out = df.select(F.col(id_col), let(tri, scores).alias("s"))
    score_cols = [F.col(f"s.score_{lang}") for lang in LANG_TRIGRAMS]
    best = F.greatest(*score_cols)
    pred = F.when(best < F.lit(LANGID_MIN_SCORE), F.lit("unknown"))
    for lang in LANG_TRIGRAMS:  # tie-break = dict order, same as oracle
        pred = pred.when(F.col(f"s.score_{lang}") == best, F.lit(lang))
    return out.select(
        F.col(id_col),
        *[F.col(f"s.score_{lang}").alias(f"score_{lang}") for lang in LANG_TRIGRAMS],
        pred.alias("lang_pred"),
    )


def doc_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Bottom-k sketch fingerprint: the k smallest shingle hashes,
    sorted and digested — a compact document identity robust to small
    edits (shares the MinHash estimator family). Returns
    (id, fingerprint hex string)."""
    sh = df.select(
        F.col(id_col),
        shingles(F.col(text_col)).alias("sh"),
        rolling_hash(F.col(text_col)).alias("content_hash"),
    )
    hashes = F.array_sort(F.transform(F.col("sh"), lambda s: base_hash(s)))
    bottom = F.slice(hashes, 1, k)
    return sh.select(
        F.col(id_col),
        F.md5(F.encode(F.concat_ws("_", *[bottom[i].cast("string") for i in range(k)]), "utf-8")).alias(
            "fingerprint"
        ),
        "content_hash",
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    micro: int = 1_000_000,
) -> DataFrame:
    """Corpus-unigram language-model quality score — the
    perplexity-filtering primitive of a pretraining pipeline (CCNet /
    Gopher style: docs whose tokens are improbable under a corpus LM
    are noise; docs that are all stop-words are boilerplate). The LM
    is the corpus itself: P(tok) = count(tok) / total, and each doc is
    scored by its mean token log-probability.

    EXACT cross-engine arithmetic (the r5 hash-flip class): a raw
    SUM/AVG of ln() doubles is accumulation-order-dependent, so each
    per-token log-prob is floored to an integer number of MICRO-nats
    FIRST — ``lp_micro = FLOOR(micro * ln(cnt/total))`` — making the
    per-doc sum an order-independent exact BIGINT; the only double ops
    are one IEEE division + one ln() per DISTINCT (cnt,total) value
    (identical operand bits on both engines) and the final
    sum/(micro*n) division. A last-ulp libm divergence would have to
    land within 1 ulp of a micro-nat boundary to flip a value
    (~1e-10/token — strictly tighter than the repo's geomean-UDAF
    precedent, which rounds an accumulated double).

    Scale shape: one explode + count shuffle builds the frequency
    table (vocabulary-sized — Zipf keeps it << corpus size); scoring
    is an equi-join on the token key (NOT a broadcast: a 100-TB
    corpus's vocab can exceed driver memory) + one per-doc agg
    shuffle. The 1-row total broadcasts. Returns
    (id, n_tokens, sum_lp_micro, avg_logprob)."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    lp_micro = F.floor(
        F.lit(micro)
        * F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
    ).cast("long")
    return (
        toks.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), lp_micro.alias("lp_micro"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .withColumn(
            "avg_logprob",
            F.col("sum_lp_micro").cast("double")
            / (F.lit(float(micro)) * F.col("n_tokens").cast("double")),
        )
    )


#: planted good/bad training corpus for the NB quality classifier query
#: (shared verbatim by queries.pipeline_nb_quality, the DuckDB oracle's
#: VALUES table, and the held-out pytest — one source of truth).  Vocab
#: deliberately overlaps the synthetic documents tables' domain words so
#: scoring real docs exercises both matched and unseen tokens.
NB_TRAIN_DOCS: list[tuple[int, str]] = [
    (1, "table join query window column data batch order group"),
    (1, "query plan scan filter column order data table row"),
    (1, "window agg group order batch data column join line"),
    (1, "customer order line part value data table query plan"),
    (1, "data column table row value scan filter plan batch"),
    (1, "join group window agg order query table data part"),
    (0, "slow slow spam click buy free free win now now"),
    (0, "click click free buy win spam spam now slow junk"),
    (0, "buy now free win click junk junk spam slow slow"),
    (0, "win free spam click buy junk now now slow noise"),
    (0, "noise junk spam slow free buy click win now junk"),
    (0, "spam noise slow junk free free buy click win buy"),
]


def nb_quality_score(
    train: DataFrame,
    score_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    micro: int = 1_000_000,
) -> DataFrame:
    """Multinomial NAIVE-BAYES quality classifier — the trained
    good/bad text filter a curation pipeline reaches for after the
    heuristics (the fastText-classifier slot in CCNet/GPT-3-style
    stacks; r12/r13 verdict task).  ``train`` supplies labeled docs
    (``label_col`` ∈ {0, 1}; 1 = keep-quality); every ``score_df`` doc
    gets the add-one-smoothed token log-likelihood-ratio score

        score = prior + Σ_tok [ln P(tok|1) − ln P(tok|0)]
        P(tok|c) = (cnt_c(tok) + 1) / (total_c + V)

    with V the train vocabulary size; tokens unseen in training take
    the constant ratio at cnt = 0.  ``pred_label = 1`` iff score > 0.

    EXACT cross-engine arithmetic (the ``unigram_logprob_score``
    micro-nat discipline): every per-token term is floored to integer
    micro-nats BEFORE summation — each ln() argument is ONE division
    of two exact BIGINTs cast to double, identical operand bits on
    both engines — so per-doc sums are order-independent BIGINTs and
    the prediction threshold compares exact integers.

    Scale shape: training is one explode + one token-keyed groupBy
    building the vocabulary-sized per-class count table (multinomial
    NB training IS a word count — the canonical map-side-combinable
    agg); the class totals/V/priors ride 1-row broadcasts; scoring is
    a token-keyed equi-join (NOT a broadcast — a 100-TB corpus vocab
    can exceed driver memory) + one per-doc agg.  Empty tokens from
    blank text are filtered on both engines (Spark split('') yields
    [''], DuckDB []).  Output: ``(id, n_tokens, score_micro,
    pred_label)``."""
    ttok = train.select(
        F.col(label_col).alias("__y"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).filter(F.col("token") != "")
    counts = ttok.groupBy("token").agg(
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("__c1"),
        F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)).alias("__c0"),
    )
    tot = counts.agg(
        F.sum("__c1").alias("__t1"),
        F.sum("__c0").alias("__t0"),
        F.count(F.lit(1)).alias("__V"),
    )
    # a missing class makes the prior ln(0): Spark's F.log would emit
    # NULL silently while DuckDB LN(0) errors — raise loudly instead
    # (one 1-row CASE, the hits()/basket_rules gate discipline)
    pri = train.agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).alias("__n1"),
        F.sum(F.when(F.col(label_col) == 0, 1).otherwise(0)).alias("__n0"),
    ).select(
        F.expr(
            "CASE WHEN __n1 = 0 OR __n0 = 0 THEN "
            "CAST(raise_error('nb_quality_score: training set must contain "
            "both classes (label 0 and 1) — the class prior is ln(0) "
            "otherwise') AS BIGINT) ELSE __n1 END"
        ).alias("__n1"),
        "__n0",
    )

    def _lp(num, den):
        return F.floor(
            F.lit(micro) * F.log(num.cast("double") / den.cast("double"))
        ).cast("long")

    llr = counts.crossJoin(F.broadcast(tot)).select(
        "token",
        (
            _lp(F.col("__c1") + 1, F.col("__t1") + F.col("__V"))
            - _lp(F.col("__c0") + 1, F.col("__t0") + F.col("__V"))
        ).alias("__w"),
    )
    consts = (
        tot.crossJoin(pri)
        .select(
            (
                _lp(F.lit(1), F.col("__t1") + F.col("__V"))
                - _lp(F.lit(1), F.col("__t0") + F.col("__V"))
            ).alias("__u"),
            (
                _lp(F.col("__n1"), F.col("__n1") + F.col("__n0"))
                - _lp(F.col("__n0"), F.col("__n1") + F.col("__n0"))
            ).alias("__p"),
        )
    )
    stok = score_df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    return (
        stok.join(llr, "token", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(F.coalesce(F.col("__w"), F.col("__u"))) + F.first("__p")).alias(
                "score_micro"
            ),
        )
        .select(
            id_col,
            "n_tokens",
            "score_micro",
            F.when(F.col("score_micro") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pred_label"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Exact n-gram benchmark decontamination — flag training documents
    that share any token ``n``-gram with an evaluation/benchmark set
    (the GPT-3/Llama-style exact-match contamination check that MUST
    run before a corpus is declared training-safe). Documents shorter
    than ``n`` tokens contribute their whole normalized text as the
    single "gram" (the :func:`shingles` short-doc convention), so short
    eval items still match verbatim copies.

    Scale shape: the eval side is distinct-exploded once (benchmark
    sets are tiny relative to the corpus but NOT assumed
    broadcast-able — the join is a keyed equi-join on the gram string,
    so a 100-TB corpus vs a million-item benchmark stays a plain
    shuffle join with map-side partial distinct); the train side is
    one explode. All-integer outputs: (id, n_contaminated_ngrams,
    n_doc_ngrams, contaminated_frac) with one final exact division.
    Only contaminated docs are returned — feed to an anti-join to
    drop them."""
    ev = (
        eval_df.select(F.explode(shingles(F.col(text_col), n)).alias("ngram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = train.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("ngram")
    )
    # ONE pass over the exploded train grams: LEFT join against the
    # distinct eval grams (no row multiplication) tags matches, then a
    # single per-doc agg counts total and matched grams together — the
    # naive per_doc/hits two-aggregate shape scans the explode twice
    return (
        tr.join(ev, "ngram", "left")
        .groupBy(id_col)
        .agg(
            F.count("hit").alias("n_contaminated_ngrams"),
            F.count(F.lit(1)).alias("n_doc_ngrams"),
        )
        .filter(F.col("n_contaminated_ngrams") > 0)
        .withColumn(
            "contaminated_frac",
            F.col("n_contaminated_ngrams").cast("double")
            / F.col("n_doc_ngrams").cast("double"),
        )
        .select(
            id_col, "n_contaminated_ngrams", "n_doc_ngrams", "contaminated_frac"
        )
    )


def decontaminate_fuzzy(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """FUZZY benchmark decontamination — the near-duplicate complement
    of :func:`decontaminate`: flag (train doc, eval doc) pairs whose
    shingle-set Jaccard >= ``threshold``, found via a BIPARTITE
    MinHash-LSH join (never all-pairs). Exact n-gram matching misses
    light rewrites of benchmark items (dropped sentences, shuffled
    clauses, token-level edits that break every 13-gram); set-level
    Jaccard at a threshold catches them — the contamination check the
    Llama/GPT-4 reports run alongside the exact one.

    Scale shape: each side is shingled + signed once (persisted,
    shared by bucketing and the verify join, the
    :func:`minhash_dedup_pairs` discipline); candidates come from an
    equi-join of the two sides' (band, band-hash) bucket rows — cost
    follows bucket co-occupancy, never |train| x |eval| — with the
    :data:`MAX_LSH_BUCKET` valve applied to the COMBINED bucket
    occupancy before the join. Candidates are then VERIFIED with exact
    Jaccard over the persisted shingle sets (no false positives; LSH
    only bounds recall). Returns (id_col, eval_id, jaccard) — feed the
    distinct train ids to an anti-join to drop contaminated docs. Ids
    must be distinct WITHIN each side; the two sides' id spaces are
    independent (columns are tagged, never unioned).
    """
    def _side(df: DataFrame, tag: str):
        sh = pin(
            df.select(
                F.col(id_col).alias(tag), shingles(F.col(text_col)).alias("sh_set")
            ).withColumn("n_sh", F.size("sh_set"))
        )
        sigs = pin(sh.select(F.col(tag), _sig_array(F.col("sh_set")).alias("sig")))
        return sh, _buckets_from_sig_array(sigs, tag)

    sh_t, b_t = _side(train, "__train_id")
    sh_e, b_e = _side(eval_df, "__eval_id")

    if max_bucket is not None:
        # COMBINED-occupancy valve as ONE window count over the unioned
        # bucket rows (same (band, bh) key the candidate join uses),
        # persisted so the filter and both join sides read a single
        # materialized exchange — the former size-aggregate + two
        # join-backs re-exchanged both sides' bucket tables. The side
        # marker splits the union back without touching the id columns.
        from pyspark.sql import Window

        t_type = dict(b_t.dtypes)["__train_id"]
        e_type = dict(b_e.dtypes)["__eval_id"]
        u = pin(
            b_t.select(
                "__train_id",
                F.lit(None).cast(e_type).alias("__eval_id"),
                "band",
                "bh",
            )
            .unionAll(
                b_e.select(
                    F.lit(None).cast(t_type).alias("__train_id"),
                    "__eval_id",
                    "band",
                    "bh",
                )
            )
            .withColumn(
                "bucket_n",
                F.count(F.lit(1)).over(Window.partitionBy("band", "bh")),
            )
            .filter(F.col("bucket_n") <= max_bucket)
        )
        b_t = u.filter(F.col("__train_id").isNotNull()).select(
            "__train_id", "band", "bh"
        )
        b_e = u.filter(F.col("__eval_id").isNotNull()).select(
            "__eval_id", "band", "bh"
        )
    cand = (
        b_t.join(b_e, ["band", "bh"])
        .select("__train_id", "__eval_id")
        .distinct()
    )

    # verify with array_intersect over the persisted per-side shingle
    # SETS (shingles() is array_distinct) — two candidate-keyed joins
    # replace the two exploded-shingle joins + two size look-ups; the
    # n_inter > 0 guard keeps the old inner-join semantics.
    return (
        cand.join(
            sh_t.select("__train_id", F.col("sh_set").alias("set_t"),
                        F.col("n_sh").alias("n_t")),
            "__train_id",
        )
        .join(
            sh_e.select("__eval_id", F.col("sh_set").alias("set_e"),
                        F.col("n_sh").alias("n_e")),
            "__eval_id",
        )
        .withColumn("n_inter", F.size(F.array_intersect("set_t", "set_e")))
        .filter(F.col("n_inter") > 0)
        .select(
            F.col("__train_id").alias(id_col),
            F.col("__eval_id").alias("eval_id"),
            (
                F.col("n_inter").cast("double")
                / (F.col("n_t") + F.col("n_e") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_docs: int = 2,
    hash_grams: bool = False,
    levels: tuple[int, ...] | None = None,
    exact_run: int | None = None,
) -> DataFrame:
    """Repeated-SPAN scrubbing — sub-document dedup in the style of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better": any token ``n``-gram occurring in >= ``min_docs`` distinct
    documents marks a repeated span, and every occurrence OUTSIDE the
    gram's keeper document (min doc id) is cut from the text. Doc-level
    dedup (exact/minhash above) drops whole documents; this removes the
    boilerplate, license headers, and templated passages that survive
    doc-level dedup because the surrounding text differs.

    Semantics (deterministic, engine-replayable): normalized tokens ->
    positioned n-grams (short docs contribute their whole text as one
    gram, the :func:`shingles` convention) -> grams in >= min_docs docs
    -> spans [pos, min(pos+n-1, L-1)] in non-keeper docs -> overlapping
    spans merged into islands (gaps-and-islands window) -> tokens under
    any island removed, remainder re-joined with single spaces. Output
    one row per input doc: (id, n_tokens, n_islands, n_removed,
    cleaned_key = md5 of the cleaned text — '' when fully scrubbed).

    Scale shape (the reason this is NOT the suffix-array algorithm of
    the paper): the suffix array is a single-machine construction; the
    Spark-native form at fixed n is explode + two keyed equi-joins +
    one per-doc window — every stage linear in corpus tokens, NO pair
    join anywhere (contrast MinHash candidates): the gram groupBy is
    one shuffle of (gram, id) pairs with map-side partial aggregation,
    the span join re-keys the same explode by gram, and island-merge
    shuffles only span rows keyed by doc. ``hash_grams=True`` replaces
    the ~13-token gram STRING shuffle key with xxhash64 (8 bytes,
    collision ~1e-10 at 1e9 grams) — the 100-TB path, differential-
    tested equal in pytest; the oracle-checked default keeps the exact
    string so DuckDB can replay it.

    ``levels`` generalizes the single ``n`` (which it overrides) to
    MULTI-LEVEL seeding: each entry is a gram length or a ``(length,
    min_docs)`` pair — e.g. ``((13, 8), (26, 4), (52, 2))`` — spans
    seeded independently per level and unioned before the one island
    merge.  The point is GRADUATED SUPPORT, not extra recall at equal
    thresholds: with UNIFORM min_docs the union is provably a no-op —
    the doc set containing a 26-gram is a subset of the set containing
    each of its 13-subgrams, so ``min`` over the superset is ≤ over
    the subset, and a doc that is non-keeper at 26 is non-keeper of
    every 13-subgram (if it were the 13-level min it would also be
    the 26-level min, contradiction); every longer-level span is
    therefore already covered by lowest-level spans (same for the
    ``min_docs`` pass: distinct-count over a superset is ≥).  What
    per-level thresholds buy is the Lee-et-al trade: a 13-gram needs
    HIGH support before it's boilerplate (idioms and common phrases
    repeat innocently), while a 52-token verbatim run in even 2
    documents is a quote — cut it whole.  The island merge then
    collapses the long quote to ONE cut at every level.  Upper levels
    skip docs shorter than the level (the whole-text short-doc
    convention applies at the LOWEST level only — re-asserting it per
    level would leak doc-level dedup into span semantics).  Same
    output schema; ``(sid, s)`` uniqueness for the deterministic
    island window is restored by a per-start ``max(e)``
    pre-aggregation (longest level dominates), skipped at a single
    level where uniqueness holds by construction.

    ``exact_run`` (r13 verdict task — the ExactSubstr longest-run
    refinement of Lee et al.) closes the LEVEL-QUANTIZATION gap: a
    verbatim run longer than ``exact_run`` tokens but shorter than the
    first support-2 level (e.g. a 51-token quote under levels
    ``((13,8),(26,4),(52,2))``) passes no level's threshold and
    survives.  The refinement CHAINS ADJACENT lowest-level gram
    matches per (doc, keeper) pair at a fixed alignment: every
    repeated lowest-gram (support ≥ 2, keeper = min doc id, keeper
    position = the keeper's first occurrence) contributes a match at
    diagonal ``pos − keeper_pos``; consecutive positions on one
    diagonal force (by n−1-token overlap) a single verbatim run, whose
    maximal extent is cut whole when it spans ≥ ``exact_run`` tokens —
    the TRUE run boundaries, no quantization.  Runs whose gram matches
    straddle different keepers or different keeper occurrences chain
    conservatively (possible under-cut, never a false cut).  Must be
    ≥ the lowest gram length.  Plan cost: one extra keyed agg + join
    on the SAME lowest-level gram explode plus one (doc, keeper,
    diagonal)-partitioned window — still linear, still no pair join.
    """
    if levels is None:
        norm_levels = ((int(n), int(min_docs)),)
    else:
        norm_levels = tuple(
            sorted(
                {
                    (int(x), int(min_docs))
                    if isinstance(x, int)
                    else (int(x[0]), int(x[1]))
                    for x in levels
                }
            )
        )
    if not norm_levels or norm_levels[0][0] < 1:
        raise ValueError(f"levels must be positive gram lengths, got {levels}")
    if any(md < 2 for _, md in norm_levels):
        raise ValueError("per-level min_docs must be >= 2")
    if exact_run is not None and exact_run < norm_levels[0][0]:
        raise ValueError(
            f"exact_run ({exact_run}) must be >= the lowest gram length "
            f"({norm_levels[0][0]}) — shorter runs contain no full gram"
        )

    toks_df = pin(
        df.select(F.col(id_col).alias("sid"), tokens(F.col(text_col)).alias("t"))
        .withColumn("L", F.size("t"))
    )

    def _grams(nl: int, lowest: bool) -> DataFrame:
        src = toks_df if lowest else toks_df.filter(F.col("L") >= nl)
        g = src.select(
            "sid", "L", F.posexplode(positioned_ngrams(F.col("t"), nl)).alias(
                "pos0", "gram"
            )
        )
        if hash_grams:
            g = g.withColumn("gram", F.xxhash64("gram"))
        return g

    def _level_spans(nl: int, md: int, lowest: bool) -> DataFrame:
        grams = _grams(nl, lowest)
        rep = (
            grams.groupBy("gram")
            .agg(
                F.min("sid").alias("keeper"),
                F.countDistinct("sid").alias("nd"),
            )
            .filter(F.col("nd") >= md)
            .select("gram", "keeper")
        )
        return (
            grams.join(rep, "gram")
            .filter(F.col("sid") != F.col("keeper"))
            .select(
                "sid",
                F.col("pos0").alias("s"),
                F.least(F.col("pos0") + nl - 1, F.col("L") - 1).alias("e"),
            )
        )

    # r16 (guide §2.3 two-level partial agg + §2.4): ONE aggregate over
    # the lowest-level gram explode serves BOTH the level valve and the
    # exact-run refinement.  The (gram, sid) pre-aggregation turns the
    # countDistinct (an Expand-doubled shuffle) into a plain count, and
    # min(struct(sid, min_pos)) yields the keeper AND the keeper's
    # first position in the same pass — the old shape paid a second
    # countDistinct agg (xrep), a join-back + agg for the keeper
    # position (kpos), and a third gram-keyed exchange of the explode.
    # Semantics identical: keeper = min(sid); kpos = min_by(minpos,
    # sid) = the keeper's min pos0 (deterministic — (gram, sid) rows
    # are UNIQUE after the first level, so the min_by ordering has no
    # ties); nd = count of distinct sids.  min_by, not min(struct):
    # a struct-typed aggregation buffer forces SortAggregate — a
    # per-partition sort of the corpus-sized gram table — while
    # min_by's fixed-width buffer keeps whole-stage HashAggregate
    # (verified in the plan).
    n0, md0 = norm_levels[0]
    g0 = _grams(n0, lowest=True)
    g_agg = (
        g0.groupBy("gram", "sid")
        .agg(F.min("pos0").alias("minpos"))
        .groupBy("gram")
        .agg(
            F.min("sid").alias("keeper"),
            F.min_by("minpos", "sid").alias("kpos0"),
            F.count(F.lit(1)).alias("nd"),
        )
    )
    rep0 = g_agg.filter(F.col("nd") >= md0).select("gram", "keeper")
    spans = (
        g0.join(rep0, "gram")
        .filter(F.col("sid") != F.col("keeper"))
        .select(
            "sid",
            F.col("pos0").alias("s"),
            F.least(F.col("pos0") + n0 - 1, F.col("L") - 1).alias("e"),
        )
    )
    for nl, md in norm_levels[1:]:
        spans = spans.unionAll(_level_spans(nl, md, lowest=False))
    if exact_run is not None:
        xrep = g_agg.filter(F.col("nd") >= 2).select(
            "gram", "keeper", F.col("kpos0").alias("kpos")
        )
        xmatch = (
            g0.join(xrep, "gram")
            .filter(F.col("sid") != F.col("keeper"))
            .select(
                "sid",
                "keeper",
                "pos0",
                F.least(F.col("pos0") + n0 - 1, F.col("L") - 1).alias("e"),
                (F.col("pos0") - F.col("kpos")).alias("diag"),
            )
        )
        wx = Window.partitionBy("sid", "keeper", "diag").orderBy("pos0")
        wx_run = wx.rowsBetween(Window.unboundedPreceding, 0)
        xspans = (
            xmatch.withColumn(
                "brk",
                F.when(
                    F.col("pos0")
                    > F.coalesce(F.lag("pos0").over(wx), F.lit(-2)) + 1,
                    1,
                ).otherwise(0),
            )
            .withColumn("run", F.sum("brk").over(wx_run))
            .groupBy("sid", "keeper", "diag", "run")
            .agg(F.min("pos0").alias("s"), F.max("e").alias("e"))
            .filter(F.col("e") - F.col("s") + 1 >= exact_run)
            .select("sid", "s", "e")
        )
        spans = spans.unionAll(xspans)
    if len(norm_levels) > 1 or exact_run is not None:
        # restore (sid, s) uniqueness for the island window's
        # deterministic ROWS ordering; max(e) = the longest level's span
        spans = spans.groupBy("sid", "s").agg(F.max("e").alias("e"))
    # gaps-and-islands: a span starts a new island iff it begins past
    # the running max end of everything before it ((sid, s) is unique,
    # and the frames are explicit ROWS — the RANGE-tie trap)
    w_prev = Window.partitionBy("sid").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("sid").orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    isl = spans.withColumn(
        "brk",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w_run))
    merged = isl.groupBy("sid", "island").agg(
        F.min("s").alias("S"), F.max("e").alias("E")
    )
    per_doc = merged.groupBy("sid").agg(
        F.collect_list(F.struct(F.col("S").alias("s"), F.col("E").alias("e"))).alias(
            "spans"
        ),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("E") - F.col("S") + 1).alias("n_removed"),
    )
    out = toks_df.join(per_doc, "sid", "left")
    cleaned_toks = F.when(F.col("spans").isNull(), F.col("t")).otherwise(
        F.filter(
            "t",
            lambda tok, i: ~F.exists(
                "spans", lambda sp: (i >= sp["s"]) & (i <= sp["e"])
            ),
        )
    )
    return out.select(
        F.col("sid").alias(id_col),
        F.col("L").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_islands"), F.lit(0)).cast("long").alias("n_islands"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.md5(F.encode(F.concat_ws(" ", cleaned_toks), "utf-8")).alias(
            "cleaned_key"
        ),
    )


def heavy_hitters(
    df: DataFrame, col: str = "token", capacity: int = 1024
) -> DataFrame:
    """Mergeable Misra-Gries (space-saving) frequency summary — the
    FREQUENCY member of the mergeable-sketch family next to HLL
    (distincts, ``events_hll_merge``) and approx_percentile (quantiles,
    ``documents_quality_tiers_approx``): approximate counts of the
    heavy items of a key stream in ONE pass with bounded memory.

    Each input partition keeps at most ``capacity`` counters
    (Arrow-batched ``mapInPandas``; batch counts merge vectorized, and
    an overflow trims by subtracting the (capacity+1)-th largest
    counter — the mergeable-summaries form of Agarwal et al.). The
    output has one row per surviving (token, est) plus one NULL-token
    row per partition carrying that partition's accumulated trim mass;
    summing over partitions gives the merged sketch and its error
    budget ``delta_total``.

    Guarantees (hold under ANY partitioning / arrival order — these,
    not the partition-dependent counter values, are what the oracle
    query asserts):
      * est(t) <= true(t)                      (only true arrivals add)
      * true(t) - est(t) <= delta_total        (trims are global mass)
      * every t with true(t) > delta_total appears in the summary
        (est 0 would violate the previous bound)

    100-TB shape: the map side never holds more than ``capacity``
    counters per partition and the merge shuffles <= partitions x
    (capacity+1) tiny rows — contrast the exact groupBy whose shuffle
    carries every distinct key. The exact audit join in the oracle
    query is the verification harness, not the scale path.
    """
    import pandas as pd

    out_schema = f"`{col}` string, est long"

    def summarize(batches):
        import numpy as np

        counts: dict = {}
        delta = 0
        seen = False
        for pdf in batches:
            seen = True
            for t, c in pdf[col].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
            if len(counts) > capacity:
                vals = np.fromiter(counts.values(), dtype=np.int64)
                v = int(
                    np.partition(vals, len(vals) - capacity - 1)[
                        len(vals) - capacity - 1
                    ]
                )
                delta += v
                counts = {t: c - v for t, c in counts.items() if c > v}
        if seen:
            yield pd.DataFrame(
                {col: list(counts) + [None], "est": list(counts.values()) + [delta]}
            )

    # merge: counter mass sums per token; the NULL-token rows sum into
    # the global delta_total row (the summed bound stays valid — trim
    # mass is additive across merged summaries)
    return (
        df.select(col)
        .mapInPandas(summarize, out_schema)
        .groupBy(col)
        .agg(F.sum("est").cast("long").alias("est"))
    )


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
) -> DataFrame:
    """Deterministic train/val/test assignment — the hold-out primitive
    of a training-data pipeline. The split must be (a) stable under
    reshuffles/repartitions/re-runs, (b) independent of row order, and
    (c) reproducible by OTHER engines auditing the corpus, so it hashes
    the ID with md5 and compares the first 8 hex chars against hex
    thresholds LEXICOGRAPHICALLY: pure string comparison, no float
    arithmetic to drift between engines (DuckDB mirrors it verbatim).

    Pure projection — zero shuffle at any scale. Returns df + 'split'.
    """
    if len(weights) != len(names) or abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights {weights} must match names and sum to 1")
    h8 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    bounds, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        # A cumulative weight that reaches 1.0 before the last name
        # yields bound 16**8 = '100000000' (9 hex chars), and the
        # LEXICOGRAPHIC compare against an 8-char digest would then
        # keep only ~1/16 of rows ('0…' prefixes) instead of all —
        # clamp to the max 8-char bound, which every digest satisfies.
        bounds.append(format(min(int(acc * 16**8), 16**8 - 1), "08x") if acc < 1.0 else "g")
    expr = None
    for name, b in zip(names[:-1], bounds):
        cond = h8 < F.lit(b)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(names[-1])) if expr is not None else F.lit(names[-1])
    return df.withColumn("split", expr)


def grouped_split(
    df: DataFrame,
    groups: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "keep_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
) -> DataFrame:
    """LEAKAGE-FREE train/val/test assignment: route every document by
    its dedup-GROUP representative (``groups`` = the
    :func:`dedup_groups` verdicts) instead of its own id, so
    near-duplicates can never straddle splits — the eval-contamination
    failure mode a per-document hash split silently permits (a test
    doc's near-twin in train is memorization, not generalization).

    Same engine-portable mechanism as :func:`assign_split` (md5-hex
    thresholds on the GROUP key, lexicographic compare, no float
    arithmetic); documents missing from ``groups`` fall back to their
    own id (singleton components). One keyed equi-join + pure
    projection — the group verdicts table is O(corpus) and joins on
    the same id key every downstream stage already shuffles on."""
    joined = df.join(
        groups.select(F.col(id_col), F.col(group_col)), id_col, "left"
    ).withColumn("__gkey", F.coalesce(F.col(group_col), F.col(id_col)))
    return assign_split(
        joined, id_col="__gkey", weights=weights, names=names
    ).drop("__gkey")


def deterministic_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id"
) -> DataFrame:
    """Reshuffle-stable ~``fraction`` sample by the same md5-hex
    threshold mechanism as :func:`assign_split` (content-independent,
    engine-portable, zero shuffle). Unlike ``df.sample`` this keeps the
    SAME rows across runs, partitionings, and engines — what a
    reproducible eval subset needs."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    bound = int(fraction * 16**8)
    if bound >= 16**8:
        # fraction == 1.0: format(16**8) is the 9-char '100000000', and
        # the lexicographic compare would keep only '0…' digests (~1/16
        # of rows) instead of everything — short-circuit to identity.
        return df
    b = format(bound, "08x")
    return df.filter(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < F.lit(b))


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 16,
    overlap: int = 4,
) -> DataFrame:
    """Context-window document chunking — the transform every LLM
    training pipeline runs last: each document's token stream becomes
    overlapping fixed-size windows (``chunk`` tokens, stepping by
    ``chunk - overlap``), one output row per window with its token count
    and re-joined text. Deterministic: window k covers tokens
    [k*stride, k*stride + chunk); the final window keeps its natural
    (shorter) length.

    Shape: tokenize + one explode over the window-index sequence + a
    per-row slice — pure Column ops (JVM codegen), map-side only; the
    explode fan-out is len(tokens)/stride rows per doc, the same output
    volume any chunker must emit.
    """
    if overlap >= chunk or chunk < 1 or overlap < 0:
        raise ValueError(f"need 0 <= overlap < chunk, got chunk={chunk} overlap={overlap}")
    stride = chunk - overlap
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("t")
    ).withColumn("n", F.size("t"))
    ex = base.filter(F.col("n") > 0).withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), F.expr(f"(n - 1) div {stride}")))
    )
    ct = F.expr(f"slice(t, chunk_idx * {stride} + 1, {chunk})")
    return ex.select(
        F.col(id_col),
        "chunk_idx",
        F.size(ct).alias("n_tokens"),
        F.concat_ws(" ", ct).alias("chunk_text"),
    )


def pack_contexts(
    df: DataFrame,
    capacity: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chop context packing — how LLM training actually fills
    fixed-length contexts: within each shard, documents are laid end to
    end in a deterministic order and the token stream is chopped into
    consecutive ``capacity``-token contexts; a document whose tokens
    straddle a chop point spans two (or more) contexts. One output row
    per (document, context) incidence with the token count that lands in
    that context — the map a packed-attention loader needs to mask
    cross-document attention.

    Determinism: shard = 60-bit md5 of the id mod ``n_shards``; order
    within a shard is the md5 hex of the id (id as tiebreak) — both are
    engine-portable, so the layout is reproducible run-to-run and
    machine-to-machine (a requirement for resumable training jobs).

    Scale shape: packing is embarrassingly parallel per shard — ONE
    window pass partitioned by shard (the running token offset), then a
    map-side explode over the spanned-context range. No global sort:
    the widest window partition is corpus/n_shards, and n_shards scales
    with the cluster. Aggregates over the output stay integer-exact
    (token counts).
    """
    if capacity < 1 or n_shards < 1:
        raise ValueError(f"need capacity >= 1 and n_shards >= 1, got {capacity}, {n_shards}")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("n"),
        (wide_hash(F.col(id_col).cast("string")) % n_shards).alias("shard"),
        F.md5(F.encode(F.col(id_col).cast("string"), "utf-8")).alias("ord_key"),
    )
    # split() of any non-NULL string yields >= 1 token; the filter drops
    # only NULL-text rows (size() = -1), which would otherwise corrupt
    # the running offset — mirrored in the oracle (len(NULL) IS NULL).
    # ROWS frame, not the default RANGE: RANGE sums over ALL rows tied
    # on the sort key, so duplicate ids would share one offset and
    # overlap their contexts; with ROWS each row gets its own slot
    # (duplicate ids still pack validly, in engine-chosen tie order).
    w = (
        Window.partitionBy("shard")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = base.filter(F.col("n") >= 1).withColumn(
        "cum", F.sum("n").over(w) - F.col("n")
    )
    ex = c.withColumn(
        "ctx",
        F.explode(
            F.sequence(
                F.expr(f"cum DIV {capacity}"),
                F.expr(f"(cum + n - 1) DIV {capacity}"),
            )
        ),
    )
    tok_in = F.least(
        (F.col("ctx") + 1) * capacity, F.col("cum") + F.col("n")
    ) - F.greatest(F.col("ctx") * capacity, F.col("cum"))
    return ex.select(
        "shard", "ctx", "doc_id", F.col("n").alias("n_tokens"),
        tok_in.alias("tokens_in_ctx"),
    )


def quality_micro(text: Column) -> Column:
    """Integer quality score in micro-units [0, 1e6]: the distinct-token
    ratio (the strongest single Gopher-style repetition signal) as
    ``FLOOR((1e6 * n_distinct) / n_tokens)`` — exact: the numerator
    stays far below 2^52, so the double division is correctly rounded
    and its floor equals the integer quotient (a non-exact quotient
    sits >= 1/n from the next integer, >> one ulp at this magnitude);
    DuckDB mirrors it with integer ``//``. Every engine computes the
    identical score and downstream comparisons stay in the
    integer-exactness playbook."""
    t = tokens(text)
    return F.floor(
        (F.lit(1_000_000) * F.size(F.array_distinct(t))) / F.size(t)
    ).cast("long")


def weighted_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weight_micro: Column | None = None,
) -> DataFrame:
    """Quality-WEIGHTED corpus sampling: keep each document with
    probability proportional to its quality score — the curation move
    between hard filtering (lose all low-quality diversity) and uniform
    sampling (keep all the junk). Deterministic and reshuffle-stable:
    keep iff ``md5-hash(id) % 1e6 < weight_micro`` — both sides integer,
    both engines identical, no float RNG anywhere. ``weight_micro``
    defaults to :func:`quality_micro` of the text; pass any integer
    micro-unit Column (a model score, a composite) to change the
    sampling law. Pure projection + filter: zero shuffle at any scale.
    """
    w = quality_micro(F.col(text_col)) if weight_micro is None else weight_micro
    u = wide_hash(F.col(id_col).cast("string")) % 1_000_000
    # NULL text would score NULL in DuckDB but -1/-1 via Spark's
    # size() convention — drop it explicitly in both engines
    return (
        df.filter(F.col(text_col).isNotNull())
        .select("*", w.alias("qm_micro"))
        .filter(u < F.col("qm_micro"))
    )


def recency_weighted_sample(
    df: DataFrame,
    age_col: str = "age_days",
    tau_days: int = 365,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DOCUMENT-AGE curation: keep each document with probability
    exp(−age/τ) — the recency-weighted sampling a freshness-sensitive
    corpus runs next to per-domain caps (old crawl snapshots decay
    smoothly instead of a hard date cutoff; τ is the half-life knob,
    ~0.69·τ days to 50% keep rate).

    EXACT cross-engine arithmetic: the weight is
    ``FLOOR(1e6 · EXP(−(CAST(age AS DOUBLE) / τ)))`` — one division of
    an exact BIGINT by an exact integer constant (IEEE-deterministic),
    one libm EXP per distinct age, floored to integer micro-units —
    then the :func:`weighted_sample` md5-threshold keep (deterministic,
    reshuffle-stable, no float RNG).  Negative ages (future-dated
    docs) weight > 1e6 and are always kept — the documented clock-skew
    convention.  Pure projection + filter: zero shuffle at any
    scale."""
    if tau_days < 1:
        raise ValueError(f"tau_days must be >= 1, got {tau_days}")
    w = F.floor(
        F.lit(1_000_000)
        * F.exp(-(F.col(age_col).cast("double") / F.lit(float(tau_days))))
    ).cast("long")
    return weighted_sample(df, id_col=id_col, text_col=text_col, weight_micro=w)


def mixture_sample(
    df: DataFrame,
    total: int,
    source_col: str = "source",
    size_col: str | None = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """TEMPERATURE-based source mixing — the data-mixing step of an LM
    training run (multilingual/multi-source sampling p_i ∝ size_i^α,
    Conneau & Lample's α-tempering; public knowledge): pick ``total``
    documents across sources with per-source QUOTAS apportioned from
    α = 0.5 tempered source masses, upsampling small sources relative
    to proportional sampling without flattening to uniform.

    Exactness discipline (every step engine-replayable):

    - source mass ``m_i`` = exact BIGINT sum of ``size_col`` (or doc
      count);
    - tempered weight ``w_i = FLOOR(sqrt(m_i) · 1e6)`` — sqrt is
      IEEE-754 CORRECTLY ROUNDED (unlike pow/ln), so α is pinned at
      0.5 precisely to keep the one float step bit-identical across
      engines; everything after is integer arithmetic;
    - quotas by largest-remainder (Hamilton) apportionment:
      ``q_i = (total·w_i) // W`` plus one extra for the
      ``total − Σq_i`` largest remainders (ties: source ascending) —
      exact integers, no float shares;
    - selection: per source the quota docs with the smallest
      ``(wide_hash(id), id)`` — deterministic, reshuffle-stable, no
      RNG (the :func:`weighted_sample` hash-uniform discipline).

    A source with fewer docs than its quota yields what it has (the
    rank filter caps implicitly); the shortfall is NOT redistributed —
    deliberate, so a starved source is visible in the output counts
    rather than silently papered over.

    Scale shape: one map-side-combinable mass agg (collect bounded by
    the SOURCE count — the PQ-codebook model-artifact discipline), one
    broadcast quota join, one per-source window rank. No global sort,
    no driver data."""
    if total < 1:
        raise ValueError(f"total must be >= 1, got {total}")
    import math

    mass = (
        F.sum(size_col).alias("m") if size_col else F.count(F.lit(1)).alias("m")
    )
    masses = df.groupBy(source_col).agg(mass).collect()
    w = {
        r[source_col]: int(math.floor(math.sqrt(float(int(r["m"]))) * 1_000_000))
        for r in masses
    }
    big_w = sum(w.values())
    if big_w <= 0:
        raise ValueError("no source mass — empty input?")
    q = {s: (total * wi) // big_w for s, wi in w.items()}
    rem = {s: (total * wi) % big_w for s, wi in w.items()}
    for s in sorted(rem, key=lambda k: (-rem[k], k))[: total - sum(q.values())]:
        q[s] += 1
    quota_df = df.sparkSession.createDataFrame(
        sorted(q.items()), f"{source_col} string, quota long"
    )
    rk = F.row_number().over(
        Window.partitionBy(source_col).orderBy(
            wide_hash(F.col(id_col).cast("string")), F.col(id_col)
        )
    )
    return (
        df.select(id_col, source_col)
        .withColumn("rk", rk)
        .join(F.broadcast(quota_df), source_col)
        .filter(F.col("rk") <= F.col("quota"))
        .select(id_col, source_col)
    )


def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    n_shards: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data selection under a token budget: take the HIGHEST-QUALITY
    prefix of the corpus until the budget is spent — the op behind
    "train on the best B tokens" pipelines. Within each md5-derived
    shard, documents are ordered by quality (desc, deterministic md5 +
    id tiebreaks) and a running token total admits the strict prefix
    with ``cum <= budget/n_shards``.

    Scale shape: per-shard budgets make the selection embarrassingly
    parallel — ONE window pass per shard over (id, n_tokens, quality)
    rows, no global sort; shards scale with the cluster and the
    per-shard budget keeps the global total within n_shards x the last
    admitted document of the true global prefix. Exact integers
    throughout (token counts, micro-unit quality).
    """
    if budget_tokens < 1 or n_shards < 1:
        raise ValueError(
            f"need budget_tokens >= 1 and n_shards >= 1, got {budget_tokens}, {n_shards}"
        )
    per_shard = budget_tokens // n_shards
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        quality_micro(F.col(text_col)).alias("qm_micro"),
        (wide_hash(F.col(id_col).cast("string")) % n_shards).alias("shard"),
        F.md5(F.encode(F.col(id_col).cast("string"), "utf-8")).alias("ord_key"),
    ).filter(F.col("n_tokens") >= 1)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.desc("qm_micro"), "ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= per_shard)
        .select("shard", "doc_id", "qm_micro", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# PII scrubbing, repetition-quality stats, stratified sampling (round 6)
# ---------------------------------------------------------------------------

#: conservative PII patterns valid in BOTH Java regex (Spark) and RE2
#: (DuckDB): no lookarounds, ASCII word boundaries only
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data PII redaction: emails, dotted-quad IPs, and
    NANP-style phone numbers are replaced with ``<EMAIL>``/``<IP>``/
    ``<PHONE>`` sentinels, with per-document match counts kept for
    audit. Patterns are deliberately lookaround-free so the exact same
    regexes run under Java regex and RE2 — an external auditor (or the
    DuckDB oracle) reproduces the redaction byte-for-byte.

    Replacement order matters and is part of the contract: emails
    first (their domains contain dots but can't be mistaken for IPs
    afterwards), then IPs, then phones. Counts are measured on the
    ORIGINAL text. Pure projection — zero shuffle at any scale."""
    c = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_IP, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return df.withColumns(
        {
            "n_emails": F.regexp_count(c, F.lit(PII_EMAIL)),
            "n_ips": F.regexp_count(c, F.lit(PII_IP)),
            "n_phones": F.regexp_count(c, F.lit(PII_PHONE)),
            text_col: scrubbed,
        }
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Repetition-based quality signals (the Gopher-style filters a
    pretraining corpus is cleaned with): distinct-token ratio, most-
    frequent-token fraction, and most-frequent-bigram fraction, per
    document.

    Pure projection — the per-token counting runs INSIDE the row via
    higher-order array functions (size/filter/transform), so there is
    no explode and no shuffle; cost is O(tokens * distinct) per doc,
    map-side, which is the right trade for web-scale docs (hundreds of
    tokens) because it keeps the operator embarrassingly parallel.
    Ratios divide exact integers, so both engines produce bit-identical
    doubles before the 6-decimal round.

    ``carry_cols`` pass through unchanged — a composing pipeline stays
    ONE projection instead of re-joining (and re-scrubbing) the source
    to recover its metadata columns."""
    t = tokens(F.col(text_col))
    base = df.select(F.col(id_col), *[F.col(c) for c in carry_cols], t.alias("t")).withColumn(
        "n", F.size("t")
    )
    base = base.filter(F.col("n") > 0)
    top_tok = F.expr(
        "array_max(transform(array_distinct(t), x -> size(filter(t, y -> y = x))))"
    )
    # guard n=1: Spark's sequence(1, 0) is the DESCENDING [1, 0], so an
    # unguarded transform would index element_at(t, 2) on a 1-token doc
    bigrams = F.expr(
        "CASE WHEN n >= 2 THEN "
        "transform(sequence(1, n - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    base = base.withColumn("bg", bigrams)
    top_bg = F.expr(
        "array_max(transform(array_distinct(bg), x -> size(filter(bg, y -> y = x))))"
    )
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("n").cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct("t")) / F.col("n"), 6).alias("distinct_ratio"),
        F.round(top_tok / F.col("n"), 6).alias("top_token_frac"),
        F.when(F.col("n") >= 2, F.round(top_bg / (F.col("n") - 1), 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("top_bigram_frac"),
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-balancing
    primitive (e.g. downsample dominant languages, keep low-resource
    ones whole). Same md5-hex threshold mechanism as
    :func:`deterministic_sample`, with the bound chosen per stratum:
    reshuffle-stable, engine-portable, zero shuffle, and NESTED across
    fractions (raising a stratum's fraction only ADDS rows).

    Strata absent from ``fractions`` use ``default``. fraction >= 1.0
    keeps the stratum whole (same 9-hex-char clamp as assign_split);
    0.0 drops it."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1], got {v}")
    if not 0.0 <= default <= 1.0:
        raise ValueError(f"default fraction must be in [0, 1], got {default}")

    def bound(frac: float) -> str:
        b = int(frac * 16**8)
        return "g" if b >= 16**8 else format(b, "08x")

    expr = F.lit(bound(default))
    for k, v in sorted(fractions.items()):
        expr = F.when(F.col(strata_col) == k, F.lit(bound(v))).otherwise(expr)
    h8 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    return df.filter(h8 < expr)


def normalized_domain(url_col) -> "F.Column":
    """Registrable-host extraction from a URL column — the standard
    crawl-curation key (domain-level caps, quotas, blocklists): strip
    the scheme and userinfo, cut at the first path/query/fragment
    delimiter, drop an explicit port and any trailing dot, lowercase,
    and strip one leading ``www.``.  Pure built-in expression (two
    regexp_replaces + one extract + lower) — stays inside whole-stage
    codegen, no UDF; DuckDB mirrors the same regexes for oracle
    parity."""
    c = url_col if not isinstance(url_col, str) else F.col(url_col)
    host = F.regexp_extract(
        F.regexp_replace(
            F.regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://", ""),
            "^[^/?#]*@",
            "",
        ),
        "^([^/?#]*)",
        1,
    )
    host = F.lower(F.regexp_replace(host, ":[0-9]+$", ""))
    host = F.regexp_replace(host, "[.]$", "")
    return F.regexp_replace(host, "^www[.]", "").alias("domain")


def domain_caps(
    df: DataFrame,
    url_col: str = "url",
    cap: int = 100,
    priority_col: str = "n_chars",
    id_col: str = "doc_id",
    n_salts: int = 8,
) -> DataFrame:
    """Per-domain document cap — the URL-level curation primitive every
    crawl pipeline runs (bound any one domain's share of the corpus;
    C4/RefinedWeb-style): keep at most ``cap`` documents per
    :func:`normalized_domain`, preferring high ``priority_col`` (ties
    broken by ascending ``id_col`` — a total order, so the kept set is
    unique).  Returns the input columns plus ``domain`` and
    ``domain_rank`` (1-based within the domain).

    Scale shape: domain extraction is a pure projection; the cap is a
    SALTED two-stage top-k, the hot-key-safe form of "row_number per
    domain" — a mega-domain (wikipedia.org at crawl scale) would
    otherwise serialize one partition.  Stage 1 ranks within
    (domain, id % n_salts) and keeps ``cap`` per salt (each partition's
    output bounded at cap); stage 2 ranks the ≤ cap·n_salts survivors
    per domain.  Any row in the global top-cap of its domain is in the
    top-cap of its salt subgroup, so the two-stage result EQUALS the
    one-stage row_number — the oracle replays the simple form and must
    hash-match, which pins the equivalence every round."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    from pyspark.sql import Window

    d = df.withColumn("domain", normalized_domain(F.col(url_col)))
    order = [F.col(priority_col).desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(
        "domain", F.pmod(F.col(id_col), F.lit(n_salts))
    ).orderBy(*order)
    stage1 = d.withColumn("__rs", F.row_number().over(w1)).filter(
        F.col("__rs") <= cap
    )
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        stage1.withColumn("domain_rank", F.row_number().over(w2))
        .filter(F.col("domain_rank") <= cap)
        .drop("__rs")
    )


def editdist_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix: int = 24,
    max_rel_dist: float = 0.2,
    max_block: int | None = MAX_EDITDIST_BLOCK,
    log_drops: bool = False,
) -> DataFrame:
    """CHARACTER-level near-duplicate pairs: normalized-prefix blocking
    + exact Levenshtein verification — the modality token-set methods
    (MinHash/Jaccard, SimHash) are blind to: small in-word edits, OCR
    noise, and truncations that preserve vocabulary. Both engines ship
    the same unit-cost ``levenshtein``, so the oracle mirrors the
    verification exactly.

    Blocking contract: a candidate pair must share its first ``prefix``
    NORMALIZED characters (head edits escape the block — documented
    recall bound, the standard prefix-blocking trade). Scale shape:
    equi-join on the prefix key, never all-pairs; the O(len^2) DP runs
    only on within-block pairs, JVM-side (built-in ``levenshtein``
    Column function — no Python). Pairs are kept when
    dist / max(len) <= ``max_rel_dist`` (exact integer division in
    double, engine-identical; two empty normalized texts are exact
    duplicates, so max(len)=0 is rel_dist 0.0 — without the guard the
    NULL division silently dropped exactly those pairs, r6 advice).

    Skew valve (r6 verdict): a corpus where many documents share a
    boilerplate head (license banners, scraped nav text) makes one
    prefix block quadratic — 1M docs sharing a prefix is 5e11
    Levenshtein DPs. Same shape as the MinHash ``MAX_LSH_BUCKET``
    valve: block sizes pre-aggregate on the SAME key the join shuffles
    on (no extra exchange shape), blocks over ``max_block`` are
    excluded entirely before the join, and ``log_drops`` reports how
    many. Within-cap worst case is bounded at max_block^2/2 DP cells
    per block; dropped-block pairs are simply not emitted (run
    exact_dedup first — boilerplate-identical docs are its job).
    """
    if prefix < 1:
        raise ValueError(f"prefix must be >= 1, got {prefix}")
    norm = df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("ntext"))
    b = norm.withColumn("block", F.substring("ntext", 1, prefix))
    if max_block is not None:
        # valve as a window count over the SAME block key the pair
        # join uses — one exchange (shared by both join sides via AQE
        # exchange reuse: identical subtrees) instead of the former
        # size-aggregate + join-back's extra exchange pair
        from pyspark.sql import Window

        counted = b.withColumn(
            "block_n", F.count(F.lit(1)).over(Window.partitionBy("block"))
        )
        if log_drops:
            import logging

            n_over = (
                counted.filter(F.col("block_n") > max_block)
                .select("block")
                .distinct()
                .count()
            )
            if n_over:
                logging.getLogger(__name__).warning(
                    "editdist_dedup_pairs: dropping %d prefix block(s) larger "
                    "than %d docs (boilerplate heads — run exact_dedup first; "
                    "pairs inside them are not emitted)",
                    n_over,
                    max_block,
                )
        b = counted.filter(F.col("block_n") <= max_block).drop("block_n")
    a = b.select(F.col(id_col).alias("id_a"), F.col("ntext").alias("ta"), "block")
    # Spread the O(len^2) DP verification across the cluster: the
    # candidate table is tiny in BYTES but ~1 ms/row in CPU, so AQE's
    # byte-based partition coalescing funnels the whole verification
    # into ONE task (measured: 3.5 s single-thread on the sf0.1
    # corpus).  An explicit numPartitions round-robin exchange of the
    # STREAM side is exempt from AQE coalescing, costs one linear
    # pass over the (small) doc rows — never the pair table — and
    # balances a hot block's quadratic work across tasks (§2.5/§2.6).
    # The balancing holds while the pair join broadcasts its build
    # side; under a sort-merge join Spark re-exchanges both sides on
    # ``block`` and a hot block lands in one task again.
    a = a.repartition(shuffle_partition_count(df.sparkSession))
    c = b.select(F.col(id_col).alias("id_b"), F.col("ntext").alias("tb"), "block")
    pairs = a.join(c, "block").filter(F.col("id_a") < F.col("id_b"))
    # BANDED Levenshtein (Spark >= 3.5 threshold form): O(len*k)
    # instead of O(len^2) per pair, returning -1 when the distance
    # exceeds the per-pair threshold.  Provably value-identical to the
    # unbanded filter: thr >= max_rel_dist*maxlen + 1e-6*maxlen (both
    # int casts truncate at most 1 each, the +2 restores them), so
    #  - dist <= thr: banded == exact distance, the exact rel filter
    #    below decides exactly as before;
    #  - dist > thr:  dist >= thr+1 > (max_rel_dist + 1e-6)*maxlen,
    #    hence rel > max_rel_dist + 1e-6 and round(rel, 6) >
    #    max_rel_dist — the unbanded filter drops the pair too
    #    (1e-6 > the 5e-7 half-ULP of ROUND(x, 6)).
    thr_sql = (
        f"cast({float(max_rel_dist)!r} * greatest(length(ta), length(tb)) as int)"
        f" + cast(1.0e-6 * greatest(length(ta), length(tb)) as int) + 2"
    )
    dist = F.expr(f"levenshtein(ta, tb, {thr_sql})")
    maxlen = F.greatest(F.length("ta"), F.length("tb"))
    rel = F.when(maxlen == 0, F.lit(0.0)).otherwise(dist / maxlen)
    return (
        pairs.select(
            "id_a",
            "id_b",
            dist.alias("dist"),
            F.round(rel, 6).alias("rel_dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("rel_dist") <= F.lit(max_rel_dist)))
    )


def quality_tiers_approx(
    df: DataFrame,
    q_col: str = "quality",
    n_tiers: int = 4,
    accuracy: int = 10000,
) -> DataFrame:
    """Scale path for quality-tier bucketing: approx_percentile cutoffs
    + a map-side CASE — the 100-TB shape the NTILE audit query
    (queries.documents_quality_tiers) documents but cannot be. NTILE
    needs a TOTAL order, i.e. an unpartitioned window that funnels the
    whole corpus through one task; this variant replaces it with one
    partial-aggregable sketch pass (mergeable per-executor state, tiny
    result) broadcast back onto the scan, so tier assignment is a pure
    projection — zero wide shuffles, no sort anywhere.

    Tier t contains rows with cutoff[t-2] < q <= cutoff[t-1] (tier 1 is
    q <= cutoff[0]); ties at a cutoff all land in the lower tier.
    approx_percentile bounds RANK error at 1/accuracy, so each tier's
    population deviates from 1/n_tiers by at most 1/accuracy plus the
    tie mass at its cutoff value — the differential test
    (tests/test_pipeline.py) checks per-row agreement with the NTILE
    assignment away from cutoff boundaries.

    Returns ``df`` with an added integer ``tier`` column (1..n_tiers).
    """
    if n_tiers < 2:
        raise ValueError(f"n_tiers must be >= 2, got {n_tiers}")
    ps = ", ".join(repr(i / n_tiers) for i in range(1, n_tiers))
    cuts = df.agg(
        F.expr(f"approx_percentile({q_col}, array({ps}), {accuracy})").alias("_cuts")
    )
    out = df.crossJoin(F.broadcast(cuts))
    tier = F.lit(1)
    for i in range(n_tiers - 1):
        tier = tier + (F.col(q_col) > F.col("_cuts")[i]).cast("int")
    return out.withColumn("tier", tier).drop("_cuts")


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SHINGLE,
    min_containment_micro: int = 500_000,
    max_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """DIRECTIONAL shingle containment — the asymmetric near-dup
    signal Jaccard misses: C(src, dst) = |sh(src) ∩ sh(dst)| /
    |sh(src)|. A short document quoted verbatim inside a long one has
    containment ≈ 1 while Jaccard stays near |short|/|long| — this is
    the detector for quotes, partial copies, and template wrappers
    (and the asymmetric decontamination check: "is this eval item
    CONTAINED in a training doc", regardless of the doc's extra text).

    Integer-exact scoring: ``containment_micro = 1e6·n_inter DIV
    n_src_shingles`` (both BIGINT, truncating division on positives —
    engine-identical). The hot-shingle valve (``max_df``) bounds the
    intersection join exactly as in :func:`ngram_jaccard_pairs` —
    intersection counts only shrink under the cap while denominators
    stay uncapped, so capped scores only decrease (no false accepts).

    Scale shape: one inverted-index equi-join on shingle (cost Σ DF²,
    valve-bounded), one keyed count agg, a 2x union for the two
    directions, then a size join — never all-pairs. Output:
    ``(src_id, dst_id, n_inter, n_src_shingles, containment_micro)``
    for ordered pairs at or above the threshold."""
    # NOTE (r15 optimization round, measured): persisting the per-doc
    # shingle array here REGRESSED the query 1.51x at sf0.1 — AQE's
    # runtime exchange-stage reuse already shares the duplicated
    # subtrees, and the persist only added a materialization barrier.
    # Left unpersisted on evidence (OPTIMIZATION_r15.md).
    # NO n_sh > 0 filter: it is provably redundant (an empty shingle
    # set explodes to zero rows, so a 0-shingle doc can never appear
    # in the intersection, and the sizes join below is INNER from the
    # pair side) — and because the predicate is built from the full
    # shingling expression, the optimizer pushed the ENTIRE tokenize +
    # transform + array_distinct chain below the parallelizing
    # repartition into the single-task file scan, replicated across
    # every scan leg (profiled r16: 8 single-task stages, ~28 s of
    # serialized CPU at sf0.1, evaluating the corpus shingling twice
    # per leg — the same §4.4 duplication shape pipeline_curate hit).
    sh = df.select(
        F.col(id_col).alias("sid"),
        shingles(F.col(text_col), n).alias("sh_set"),
    ).withColumn("n_sh", F.size("sh_set"))
    # explode_outer + isnotnull instead of explode: plain explode makes
    # InferFiltersFromGenerate re-derive `size(sh_set) > 0` — the full
    # shingling chain — and push it into the (single-task) file scan,
    # exactly the duplication the dropped filter above caused.  The
    # outer variant fires no inferred filter; the post-filter on the
    # GENERATED column cannot sink below the Generate, and it is
    # provably identical (explode drops null/empty arrays; outer emits
    # one null row for them, which the isnotnull removes — shingle
    # elements themselves are never null by construction).
    ex = sh.select("sid", F.explode_outer("sh_set").alias("shingle")).filter(
        F.col("shingle").isNotNull()
    )
    if max_df is not None:
        # DF valve as a window count over the SAME shingle key the
        # intersection join uses — one exchange shared by both join
        # sides (AQE exchange reuse) instead of size-agg + join-back
        ex = (
            ex.withColumn(
                "df_n", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("df_n") <= max_df)
            .drop("df_n")
        )
    inter = (
        ex.alias("ea")
        .join(ex.alias("eb"), "shingle")
        .filter(F.col("ea.sid") < F.col("eb.sid"))
        .groupBy(F.col("ea.sid").alias("id_a"), F.col("eb.sid").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    both = inter.select(
        F.col("id_a").alias("src_id"), F.col("id_b").alias("dst_id"), "n_inter"
    ).union(
        inter.select(
            F.col("id_b").alias("src_id"), F.col("id_a").alias("dst_id"), "n_inter"
        )
    )
    sizes = sh.select(F.col("sid").alias("src_id"), F.col("n_sh"))
    out = both.join(sizes, "src_id").select(
        "src_id",
        "dst_id",
        "n_inter",
        F.col("n_sh").cast("long").alias("n_src_shingles"),
        F.expr("(1000000 * n_inter) DIV n_sh").cast("long").alias(
            "containment_micro"
        ),
    )
    return out.filter(F.col("containment_micro") >= min_containment_micro)


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SHINGLE,
    threshold_micro: int = 600_000,
) -> DataFrame:
    """EXACT set-similarity join by PREFIX FILTERING (the ppjoin/AllPairs
    family — the exact counterpart of MinHash-LSH): pairs of documents
    whose shingle-set Jaccard is >= ``threshold_micro``/1e6, with NO
    false negatives and no all-pairs comparison.

    Why it is exact: order every doc's shingle set by one GLOBAL total
    order (ascending document frequency, then shingle — rarest first);
    if J(x, y) >= t, then x and y must overlap within their first
    ``|s| - ceil(t*|s|) + 1`` tokens under ANY shared total order (the
    prefix-filtering theorem), so an equi-join on prefix tokens plus
    the length filter ``min*1e6 >= t*max`` generates every qualifying
    pair; exact integer Jaccard then removes false positives.  The
    rarest-first order makes prefixes maximally selective — a prefix
    token's join fan-out IS its document frequency, which the ordering
    minimizes.

    All arithmetic is integer (``ceil`` as ``(t*n + 1e6-1) div 1e6``,
    Jaccard as ``(1e6*inter) div union``), so the oracle replays
    bit-for-bit.

    Scale shape: shingle explode + two keyed aggs (df, sizes) + ONE
    window per doc (partitioned by doc — never global) + a prefix-token
    equi-join whose fan-out is bounded by rare-token df, then a
    candidate-keyed intersection count.  A pathological hot prefix
    token means the corpus genuinely contains a near-dup cluster of
    that size; the length filter and doc-partitioned verify keep the
    blow-up at the true duplicate mass, and upstream
    :func:`exact_dedup` removes identical-set clusters first in the
    production composition."""
    # NOTE (r15 optimization round, measured): persisting the exploded
    # shingle table REGRESSED the query 1.33x at sf0.1 — AQE's runtime
    # exchange-stage reuse already deduplicates the identical subtrees,
    # and the persist only added a materialization barrier + cache
    # write. Left unpersisted on evidence (OPTIMIZATION_r15.md; the
    # later §11-wave restructure below also cut the consumer count —
    # sizes/df come from the carried array + a window, and the verify
    # reads the arrays, not the explode).
    # per-doc shingle SET carried as an array: n_sh is size() (shingles
    # are distinct), the explode CARRIES it (no per-doc size aggregate +
    # join-back), and the final verify intersects the arrays directly
    arr = docs.select(
        F.col(id_col), shingles(F.col(text_col), n).alias("sh_set")
    ).withColumn("n_sh", F.size("sh_set"))
    sh = arr.select(id_col, "n_sh", F.explode("sh_set").alias("tok"))
    # token document frequency as a window count over tok (one exchange,
    # no aggregate + join-back); rarest-first prefix order unchanged
    w = Window.partitionBy(id_col).orderBy(F.col("dfn").asc(), F.col("tok").asc())
    ordered = sh.withColumn(
        "dfn", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    ).withColumn("rn", F.row_number().over(w))
    prefix = ordered.filter(
        F.col("rn")
        <= F.col("n_sh")
        - F.expr(f"({threshold_micro}L * n_sh + 999999) div 1000000L")
        + 1
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "tok", F.col("n_sh").alias("na")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "tok", F.col("n_sh").alias("nb")
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.expr(
                f"least(na, nb) * 1000000L >= {threshold_micro}L * greatest(na, nb)"
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify with array_intersect over the per-doc shingle sets — two
    # candidate-keyed joins instead of two corpus-wide exploded-token
    # joins + two size look-ups (the §11 minhash move; counts provably
    # equal on distinct sets, and n_inter >= 1 for every prefix-join
    # candidate so no inner-join-semantics guard is needed — kept
    # anyway via the threshold filter, threshold_micro >= 1)
    sa = arr.select(
        F.col(id_col).alias("id_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_sh").alias("na"),
    )
    sb = arr.select(
        F.col(id_col).alias("id_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_sh").alias("nb"),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("set_a", "set_b")))
        .select(
            "id_a",
            "id_b",
            F.expr("(1000000L * n_inter) div (na + nb - n_inter)").alias(
                "jaccard_micro"
            ),
        )
        .filter(F.col("jaccard_micro") >= threshold_micro)
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup CLUSTER RESOLUTION: given verified near-dup pairs,
    collapse each connected component to its BEST document by the
    integer quality score (:func:`quality_micro`, distinct-token
    ratio), ties broken by smallest id — the keep policy an actual
    curation pipeline applies on top of :func:`dedup_groups`'s
    verdicts (keeping the min-id doc, the default label, throws away
    quality for free).  Singletons survive unchanged.

    Output: one row per SURVIVING doc — (id, group_id = component
    label, group_size, qm_micro).

    Scale shape: components via the keyed-join label propagation of
    :func:`dedup_groups`; then one quality projection and ONE window
    over the component label (both rank and size share the partition)
    — all joins keyed, nothing all-pairs."""
    groups = dedup_groups(pairs, nodes=docs.select(id_col), id_col=id_col)
    scored = docs.select(
        id_col, quality_micro(F.col(text_col)).alias("qm_micro")
    )
    j = scored.join(groups, id_col)
    w = Window.partitionBy("keep_id").orderBy(
        F.col("qm_micro").desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("keep_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("keep_id").alias("group_id"),
            "group_size",
            "qm_micro",
        )
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking: split each document at positions where
    a rolling ``window``-token hash satisfies ``hash % divisor == 0``
    (the gear/Rabin CDC boundary rule; expected chunk length ~
    ``divisor`` tokens). Unlike :func:`chunk_tokens`' fixed windows,
    CDC boundaries are CONTENT-STABLE: inserting a sentence shifts
    only the chunks it touches, so identical passages in near-identical
    documents land in identical chunks — ``chunk_hash`` equality then
    dedups shared spans across a corpus without any pairwise compare
    (the storage-dedup trick, applied to training text).

    This is the STATELESS CDC variant: a boundary is a pure per-
    position predicate, so the whole transform is array expressions —
    no sequential scan, no shuffle, replayable in SQL. Production CDC
    adds min/max chunk bounds, which make boundaries depend on the
    previous boundary (a per-doc sequential pass — applyInPandas);
    the unbounded rule keeps the operator a zero-shuffle projection
    and its tail behavior is benign (P(len>L) decays geometrically).

    Returns one row per chunk: (id, chunk_idx, n_tokens, chunk_hash,
    n_copies) where n_copies counts corpus-wide occurrences of the
    chunk's content hash (the dedup signal).

    Scale shape: tokenize + boundary filter + one posexplode are all
    map-side; the ONLY shuffle is the n_copies count on chunk_hash,
    computed as a groupBy partial aggregate (map-side combinable,
    key space = distinct chunks) joined back on chunk_hash — NOT a
    window over chunk_hash, which would funnel every occurrence of a
    hot boilerplate chunk (shared by millions of docs at 100 TB) into
    one un-splittable window partition; the join-back is an equi-join
    AQE's skew handling CAN split. At 100 TB the explode emits
    ~n_tokens/divisor rows per doc — the same output volume any
    chunker must emit."""
    if window < 1 or divisor < 1:
        raise ValueError(f"need window >= 1 and divisor >= 1, got {window}, {divisor}")
    t = tokens(F.col(text_col))
    base = df.select(F.col(id_col), t.alias("t")).withColumn("n", F.size("t"))
    # candidate boundary positions: 0-based end index i of a full
    # window, i in [window-1, n-2] (a boundary after the LAST token
    # would emit an empty final chunk, so i stops at n-2); Spark's
    # sequence() REVERSES when start > stop, hence the emptiness guard
    idxs = F.when(
        F.col("n") >= window + 1,
        F.sequence(F.lit(window - 1), F.col("n") - 2),
    ).otherwise(F.array().cast("array<int>"))
    bpos = F.filter(
        idxs,
        lambda i: base_hash(F.concat_ws(" ", F.slice(F.col("t"), i - window + 2, window)))
        % divisor
        == 0,
    )
    starts = F.concat(F.array(F.lit(0)), F.transform(bpos, lambda i: i + 1))
    ends = F.concat(F.transform(bpos, lambda i: i + 1), F.array(F.col("n")))
    spans = F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e")))
    ex = base.select(
        F.col(id_col), "t", F.posexplode(spans.alias("_")).alias("chunk_idx", "span")
    )
    ctext = F.concat_ws(
        " ", F.slice(F.col("t"), F.col("span.s") + 1, F.col("span.e") - F.col("span.s"))
    )
    chunks = ex.select(
        F.col(id_col),
        "chunk_idx",
        (F.col("span.e") - F.col("span.s")).cast("long").alias("n_tokens"),
        F.md5(F.encode(ctext, "utf-8")).alias("chunk_hash"),
    )
    copies = chunks.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("n_copies"))
    return chunks.join(copies, "chunk_hash").select(
        F.col(id_col), "chunk_idx", "n_tokens", "chunk_hash", "n_copies"
    )


def bigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    micro: int = 1_000_000,
) -> DataFrame:
    """Interpolated-bigram language-model quality score — the standard
    perplexity filter of a pretraining pipeline (CCNet-style) one
    order up from :func:`unigram_logprob_score`: each adjacent token
    pair (w1, w2) is scored by

        P(w2 | w1) = 0.9 * c(w1 w2)/c(w1 *) + 0.1 * c(w2)/total

    (MLE bigram interpolated with the corpus unigram — the simplest
    smoothing that keeps every probability strictly positive and the
    model well-defined on its own training corpus). Boilerplate
    (repeated high-frequency bigrams) scores high; noise (improbable
    transitions) scores low.

    EXACT cross-engine arithmetic (same micro-nat discipline as
    :func:`unigram_logprob_score`): both mixture terms are IEEE-exact
    double divisions of exact BIGINTs, the mixture is two exact
    multiplies + one add with identical association on both engines,
    and the per-pair log-prob is floored to integer micro-nats BEFORE
    the per-doc sum — order-independent BIGINT accumulation. The only
    libm call is one ln() per distinct operand bit-pattern.

    Docs with < 2 tokens have no bigrams and are absent from the
    output (documented contract; a scorer consumer LEFT-joins).

    Scale shape: two count shuffles build the bigram and context
    tables (Zipf-bounded — far below corpus size, but NOT driver- or
    broadcast-sized at 100 TB, so all scoring joins are keyed
    equi-joins, not broadcasts); the 1-row total is the only
    broadcast. Scoring = three keyed joins + one per-doc agg."""
    t = tokens(F.col(text_col))
    toks = df.select(F.col(id_col), F.explode(t).alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cu"))
    total = uni.agg(F.sum("cu").alias("total"))
    pairs_arr = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = df.select(F.col(id_col), F.explode(pairs_arr).alias("bg")).select(
        F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    p = F.lit(0.9) * (F.col("c2").cast("double") / F.col("c1").cast("double")) + F.lit(
        0.1
    ) * (F.col("cu").cast("double") / F.col("total").cast("double"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .join(uni.select(F.col("token").alias("w2"), "cu"), ["w2"])
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.floor(F.lit(micro) * F.log(p)).cast("long").alias("lp_micro"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .withColumn(
            "avg_logprob",
            F.col("sum_lp_micro").cast("double")
            / (F.lit(float(micro)) * F.col("n_bigrams").cast("double")),
        )
    )


def kneser_ney_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    micro: int = 1_000_000,
) -> DataFrame:
    """Interpolated KNESER-NEY bigram language-model quality score —
    the state-of-the-art n-gram smoother (Kneser & Ney 1995; Chen &
    Goodman 1998 showed it dominates every other classical smoothing),
    completing the LM ladder above the Jelinek-Mercer bigram/trigram
    scorers:

        P(w2 | w1) = (c(w1 w2) − D) / c(w1 ·)
                   + (D · N1+(w1 ·) / c(w1 ·)) · (N1+(· w2) / T)

    with discount D = 0.75 (EXACTLY 3/4 — an exact binary double, so
    the subtraction and multiply are IEEE-deterministic), N1+(w1 ·)
    the number of distinct continuations of w1, N1+(· w2) the number
    of distinct LEFT contexts of w2 (the continuation probability —
    KN's insight: how many contexts a word completes, not how often it
    occurs), and T the total number of distinct bigram types.  Scoring
    a corpus against its own model means every scored bigram is
    observed, so c ≥ 1 ⇒ c − D ≥ 0.25 > 0 and the max(·, 0) of the
    general form never binds (documented contract).

    EXACT cross-engine arithmetic: every count is an exact BIGINT;
    term1 = (CAST(c2) − 0.75)/c1 and
    term2 = ((0.75·n1f)/c1)·(n1b/T) are evaluated with IDENTICAL
    association on both engines; per-pair log-probs floor to integer
    micro-nats before the order-independent per-doc BIGINT sum.

    Docs with < 2 tokens have no bigrams and are absent (same contract
    as the other LM scorers).

    Scale shape: ONE Zipf-bounded bigram-type count shuffle, persisted
    for its four consumers (scoring join, context aggregate,
    continuation aggregate, type total); c1/N1+ aggregates are keyed
    groupBys OF the type table (far smaller than the corpus); scoring
    = three keyed joins + the 1-row T broadcast + one per-doc agg."""
    t = tokens(F.col(text_col))
    pairs_arr = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = df.select(F.col(id_col), F.explode(pairs_arr).alias("bg")).select(
        F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    c2 = pin(big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")))
    ctx = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    n1b = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    tt = c2.agg(F.count(F.lit(1)).alias("tt"))
    term1 = (F.col("c2").cast("double") - F.lit(0.75)) / F.col("c1").cast(
        "double"
    )
    term2 = (
        (F.lit(0.75) * F.col("n1f").cast("double")) / F.col("c1").cast("double")
    ) * (F.col("n1b").cast("double") / F.col("tt").cast("double"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(ctx, ["w1"])
        .join(n1b, ["w2"])
        .crossJoin(F.broadcast(tt))
        .select(
            F.col(id_col),
            F.floor(F.lit(micro) * F.log(term1 + term2))
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .withColumn(
            "avg_logprob",
            F.col("sum_lp_micro").cast("double")
            / (F.lit(float(micro)) * F.col("n_bigrams").cast("double")),
        )
    )


def line_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style duplicate-LINE repetition signals (Rae et al. 2021,
    appendix A1 — the structural half of the repetition rule set that
    :func:`repetition_stats`'s token/bigram fractions miss; boilerplate
    nav bars, cookie banners and scraped menus repeat whole LINES):

        dup_line_frac_milli      = 1000·(n_lines − n_distinct) div n_lines
        dup_line_char_frac_milli = 1000·Σ_l (c_l − 1)·len(l) div Σ chars

    where c_l counts occurrences of each distinct non-empty trimmed
    line and the char numerator charges every occurrence BEYOND the
    first (identical lines have identical lengths, so "which copy is
    the original" cannot matter).  Exact integer milli divisions —
    bit-identical on both engines.

    Pure projection — line splitting, trimming, distinct-counting and
    the char sums all run INSIDE the row via higher-order array
    functions; no explode, no shuffle, embarrassingly parallel (the
    same trade as repetition_stats).  Docs with zero non-empty lines
    are absent from the output (documented contract)."""
    lines = F.filter(
        F.transform(
            F.split(F.col(text_col), "\n"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col), lines.alias("lines")).withColumn(
        "n_lines", F.size("lines").cast("long")
    )
    base = base.filter(F.col("n_lines") > 0)
    n_chars = F.aggregate(
        F.col("lines"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x).cast("long"),
    )
    n_distinct = F.size(F.array_distinct(F.col("lines"))).cast("long")
    excess_chars = F.aggregate(
        F.transform(
            F.array_distinct(F.col("lines")),
            lambda x: (
                F.size(F.filter(F.col("lines"), lambda y: y == x)).cast("long")
                - F.lit(1)
            )
            * F.length(x).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    staged = base.select(
        F.col(id_col),
        "n_lines",
        n_chars.alias("n_line_chars"),
        n_distinct.alias("__nd"),
        excess_chars.alias("__xc"),
    )
    return staged.select(
        F.col(id_col),
        "n_lines",
        "n_line_chars",
        F.expr("1000 * (n_lines - __nd) div n_lines")
        .cast("long")
        .alias("dup_line_frac_milli"),
        F.expr("1000 * __xc div n_line_chars")
        .cast("long")
        .alias("dup_line_char_frac_milli"),
    )


def trigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    micro: int = 1_000_000,
) -> DataFrame:
    """Interpolated-TRIGRAM language-model quality score — the top of
    the CCNet-style perplexity ladder above
    :func:`bigram_logprob_score`: each token triple (w1, w2, w3) is
    scored by

        P(w3 | w1 w2) = 0.7 * c3(w1 w2 w3)/c12(w1 w2 *)
                      + 0.2 * c2(w2 w3)/c1(w2 *)
                      + 0.1 * cu(w3)/total

    (MLE trigram interpolated with the MLE bigram and the corpus
    unigram — Jelinek-Mercer with fixed weights, the simplest mixture
    that keeps every probability strictly positive on its own training
    corpus).  The bigram back-off counts come from the FULL adjacent-
    pair tables (all positions), the trigram counts from the triple
    table; higher orders separate boilerplate from noise more sharply
    than the bigram filter alone.

    EXACT cross-engine arithmetic (the house micro-nat discipline):
    all three mixture terms are IEEE-exact double divisions of exact
    BIGINTs, the mixture is three exact multiplies + two adds with
    identical left association on both engines, and the per-triple
    log-prob is floored to integer micro-nats BEFORE the per-doc sum —
    an order-independent BIGINT accumulation.  The only libm call is
    one ln() per distinct operand bit-pattern.

    Docs with < 3 tokens have no trigrams and are absent from the
    output (same contract as the bigram scorer; consumers LEFT-join).

    Scale shape: three Zipf-bounded count shuffles build the trigram,
    bigram, and unigram tables (far below corpus size but NOT driver-
    or broadcast-sized at 100 TB, so all five scoring joins are keyed
    equi-joins); the 1-row total is the only broadcast.  Scoring =
    five keyed joins + one per-doc agg."""
    t = tokens(F.col(text_col))
    toks = df.select(F.col(id_col), F.explode(t).alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cu"))
    total = uni.agg(F.sum("cu").alias("total"))
    pairs_arr = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("wa"), b.alias("wb")),
        ),
    ).otherwise(F.array().cast("array<struct<wa:string,wb:string>>"))
    big = df.select(F.explode(pairs_arr).alias("bg")).select(
        F.col("bg.wa").alias("wa"), F.col("bg.wb").alias("wb")
    )
    c2 = big.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("wa").agg(F.count(F.lit(1)).alias("c1"))
    tri_arr = F.when(
        F.size(t) >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(t, 1, F.size(t) - 2),
                F.slice(t, 2, F.size(t) - 2),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
            F.slice(t, 3, F.size(t) - 2),
            lambda p, c: F.struct(
                p.getField("w1").alias("w1"),
                p.getField("w2").alias("w2"),
                c.alias("w3"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string,w3:string>>"))
    tri = df.select(F.col(id_col), F.explode(tri_arr).alias("tg")).select(
        F.col(id_col),
        F.col("tg.w1").alias("w1"),
        F.col("tg.w2").alias("w2"),
        F.col("tg.w3").alias("w3"),
    )
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    c12 = tri.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    p = (
        F.lit(0.7) * (F.col("c3").cast("double") / F.col("c12").cast("double"))
        + F.lit(0.2) * (F.col("c2").cast("double") / F.col("c1").cast("double"))
        + F.lit(0.1) * (F.col("cu").cast("double") / F.col("total").cast("double"))
    )
    scored = (
        tri.join(c3, ["w1", "w2", "w3"])
        .join(c12, ["w1", "w2"])
        .join(c2.select(F.col("wa").alias("w2"), F.col("wb").alias("w3"), "c2"),
              ["w2", "w3"])
        .join(c1.select(F.col("wa").alias("w2"), "c1"), ["w2"])
        .join(uni.select(F.col("token").alias("w3"), "cu"), ["w3"])
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.floor(F.lit(micro) * F.log(p)).cast("long").alias("lp_micro"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .withColumn(
            "avg_logprob",
            F.col("sum_lp_micro").cast("double")
            / (F.lit(float(micro)) * F.col("n_trigrams").cast("double")),
        )
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    micro: int = 1_000_000,
) -> DataFrame:
    """Pointwise-mutual-information collocation extraction — the
    classic corpus-analysis primitive (Church & Hanks 1990): adjacent
    token pairs whose joint frequency beats chance,

        pmi = ln( (c2/N2) / ((cu1/N1) * (cu2/N1)) )

    with c2 the bigram count over N2 total bigrams and cu the unigram
    counts over N1 total tokens. Raw PMI explodes on hapax pairs, so
    ``min_count`` floors the bigram count (the standard fix).

    EXACT cross-engine arithmetic: the ratio is evaluated as
    ((c2 * N1) * N1) / ((N2 * cu1) * cu2) in doubles with identical
    association on both engines (every factor an exact BIGINT; IEEE
    multiply/divide are deterministic), then floored to integer
    micro-nats — only ln() touches libm. Returns
    (w1, w2, n_pair, pmi_micro), one row per qualifying bigram type.

    Scale shape: identical to :func:`bigram_logprob_score` minus the
    per-doc scoring joins — two Zipf-bounded count shuffles and one
    keyed join of the bigram-type table against the two unigram rows;
    the two 1-row totals are the only broadcasts."""
    t = tokens(F.col(text_col))
    toks = df.select(F.explode(t).alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cu"))
    n1 = uni.agg(F.sum("cu").alias("n1"))
    pairs_arr = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = df.select(F.explode(pairs_arr).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    n2 = big.agg(F.count(F.lit(1)).alias("n2"))
    c2 = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    d = F.col("n_pair").cast("double")
    ratio = (
        (d * F.col("n1").cast("double")) * F.col("n1").cast("double")
    ) / (
        (F.col("n2").cast("double") * F.col("cu1").cast("double"))
        * F.col("cu2").cast("double")
    )
    return (
        c2.join(uni.select(F.col("token").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.floor(F.lit(micro) * F.log(ratio)).cast("long").alias("pmi_micro"),
        )
    )


def record_linkage_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    fields: list[tuple],
    min_score_micro: int = 500_000,
    max_block: int | None = MAX_EDITDIST_BLOCK,
) -> DataFrame:
    """STRUCTURED entity resolution (Fellegi-Sunter-lite record
    linkage): candidate pairs share a composite BLOCKING key, and each
    pair scores an exact-integer weighted agreement over typed field
    comparators:

    - ``("col", "exact", w)`` — full weight ``w`` iff the values are
      null-safe equal, else 0 (the categorical agreement term).
    - ``("col", "lev", w)`` — graded string agreement
      ``((maxlen - levenshtein) * w) div maxlen`` (two empty strings
      agree fully; a NULL on either side scores 0) — BIGINT-exact, and
      both engines ship the same unit-cost ``levenshtein``.

    ``score_micro = Σ field scores``; pairs with
    ``score_micro >= min_score_micro`` are emitted once (``id_a <
    id_b``).  Differs from :func:`editdist_dedup_pairs` in modality:
    that op near-dedups ONE text column under prefix blocking; this
    one links STRUCTURED records on a caller-chosen composite key with
    per-field weights — the customer/patient/vendor master-data match.

    Scale shape: equi-join on the composite block key only (never
    all-pairs); comparators are JVM Column expressions (no Python).
    Same skew valve as :func:`editdist_dedup_pairs`: block sizes
    pre-aggregate on the join key and blocks over ``max_block``
    records are dropped whole (boilerplate keys are exact-dup
    territory, not linkage territory)."""
    if not block_cols:
        raise ValueError("record_linkage_pairs needs >= 1 blocking column")
    if not fields:
        raise ValueError("record_linkage_pairs needs >= 1 scored field")
    kinds = {k for _, k, _ in fields}
    if not kinds <= {"exact", "lev"}:
        raise ValueError(f"unknown comparator kind(s): {sorted(kinds - {'exact', 'lev'})}")
    cols = [c for c, _, _ in fields]
    base = df.select(
        F.col(id_col).alias("__id"), *[F.col(c) for c in {*block_cols, *cols}]
    )
    b = base.withColumn("__block", F.concat_ws("\x1f", *[
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in block_cols
    ]))
    if max_block is not None:
        # same window-count valve as editdist_dedup_pairs: one exchange
        # on the block key (AQE-shared by both pair-join sides) instead
        # of the size-aggregate + join-back
        from pyspark.sql import Window

        b = (
            b.withColumn(
                "__bn", F.count(F.lit(1)).over(Window.partitionBy("__block"))
            )
            .filter(F.col("__bn") <= max_block)
            .drop("__bn")
        )
    left = b.select(
        "__block",
        F.col("__id").alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c in cols],
    )
    # same parallelism fence as editdist_dedup_pairs: the per-pair
    # comparator work (levenshtein fields) is CPU-heavy but tiny in
    # bytes, so AQE's byte-based coalescing would run the whole
    # verification in one task; an explicit-numPartitions round-robin
    # exchange of the stream side is AQE-exempt and linear in records
    left = left.repartition(shuffle_partition_count(df.sparkSession))
    right = b.select(
        "__block",
        F.col("__id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in cols],
    )
    pairs = left.join(right, "__block").filter(F.col("id_a") < F.col("id_b"))
    score = F.lit(0).cast("long")
    for c, kind, w in fields:
        a_, b_ = F.col(f"__a_{c}"), F.col(f"__b_{c}")
        if kind == "exact":
            term = F.when(a_.eqNullSafe(b_), F.lit(int(w)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        else:
            maxlen = F.greatest(F.length(a_), F.length(b_))
            term = (
                F.when(a_.isNull() | b_.isNull(), F.lit(0).cast("long"))
                .when(maxlen == 0, F.lit(int(w)).cast("long"))
                .otherwise(
                    F.expr(
                        f"((greatest(length(__a_{c}), length(__b_{c})) - "
                        f"levenshtein(__a_{c}, __b_{c})) * {int(w)}L) div "
                        f"greatest(length(__a_{c}), length(__b_{c}))"
                    )
                )
            )
        score = score + term
    return (
        pairs.withColumn("score_micro", score)
        .filter(F.col("score_micro") >= min_score_micro)
        .select("id_a", "id_b", "score_micro")
    )


def feature_hash(
    docs: DataFrame,
    n_features: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. 2009) — fixed-dimension
    sparse text features with no vocabulary pass: every token lands in
    bucket ``base_hash(term) % n_features`` carrying sign
    ``1 − 2·(wide_hash(term) % 2)`` (the signed variant that makes
    collisions cancel in expectation), and a document's feature vector
    is the per-bucket signed occurrence sum.  Both hashes are the
    repo's md5-derived engine-portable functions, so the SQL replay is
    bit-exact; buckets whose signed sum is 0 are dropped (documented —
    a zero coordinate is indistinguishable from an absent one in a
    sparse encoding).

    Output: long-format ``(id, bucket, weight)`` — the relational
    encoding of the sparse matrix (the COO discipline), ready for the
    linear-model dot products :func:`xesmf_spark.similarity` runs.

    Scale shape: one explode + one (id, bucket)-keyed map-side-
    combinable SUM — linear in token volume, vocabulary-free (the
    trick's entire point at web scale)."""
    if n_features < 1:
        raise ValueError(f"n_features must be >= 1, got {n_features}")
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    return (
        toks.select(
            id_col,
            (base_hash(F.col("term")) % n_features).alias("bucket"),
            (F.lit(1) - F.lit(2) * (wide_hash(F.col("term")) % 2))
            .cast("long")
            .alias("__s"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.sum("__s").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    micro: int = 1_000_000,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023), the canonical method for selecting pretraining data that
    RESEMBLES a small high-quality target corpus: fit two bag-of-
    hashed-n-gram distributions (target vs raw), and weight every raw
    document by its log importance ratio

        log w(doc) = sum over features f of
                     count_doc(f) * [ln p_target(b(f)) - ln p_raw(b(f))]

    with features = unigrams AND bigrams (the paper's choice) hashed
    into ``n_buckets`` buckets by the repo's md5-portable
    :func:`base_hash`, and Laplace +1 smoothing on both bucket
    distributions (every ratio strictly positive and defined even for
    buckets one side never emits).  Bigram feature strings are
    ``w1 || ' ' || w2`` — normalized tokens contain no spaces, so the
    bigram feature space cannot collide with the unigram one.

    EXACT cross-engine arithmetic (the LM-scorer micro-nat
    discipline): bucket probabilities are IEEE-exact double divisions
    of exact BIGINTs (< 2^53), each ln() is floored to integer
    micro-nats SEPARATELY, the per-bucket delta is an exact BIGINT
    difference, and the per-doc score is count * delta summed in
    BIGINT — order-independent.  Magnitude: |delta| <= ~40 * micro
    (ln of the minimum smoothed probability), counts <= doc tokens,
    so a 1e9-token document stays ~1e16 < 2^63 — no overflow gate
    needed at any realistic document size (documented, not valved).

    Output: one row per NON-target document —
    ``(id, n_feats, w_micro)`` where ``w_micro`` is the log importance
    weight in micro-nats; the DSIR selection step is a top-k or a
    Gumbel draw OVER these weights, left to the caller (deterministic
    rank selection is what the shipped query does).

    NULL contract: rows where ``is_target`` evaluates NULL (e.g. a
    NULL source column under ``isin``) follow SQL three-valued logic
    on BOTH engines — they count toward NEITHER distribution and are
    absent from the output (both the target conditional and its
    negation are NULL-false).  Callers that want NULL-flagged rows
    treated as raw must pass ``F.coalesce(cond, F.lit(False))``.

    Scale shape: one explode builds the (doc, bucket) occurrences
    (linear in token volume, vocabulary-free — the hashing trick);
    ONE (id, bucket) keyed count shuffle is persisted for its two
    consumers (model build + scoring); the two bucket distributions
    are a groupBy of that table (n_buckets rows — model-sized) and
    join back as ONE broadcast of ``n_buckets`` rows; scoring is a
    per-doc keyed SUM.  Nothing corpus-shaped crosses the driver."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    t = tokens(F.col(text_col))
    uni = docs.select(
        F.col(id_col).alias("id"),
        is_target.alias("__tgt"),
        F.explode(t).alias("term"),
    ).filter(F.col("term") != "")
    pairs_arr = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = docs.select(
        F.col(id_col).alias("id"),
        is_target.alias("__tgt"),
        F.explode(pairs_arr).alias("term"),
    ).filter(F.col("term") != " ")
    feats = pin(
        uni.unionByName(big)
        .select(
            "id", "__tgt", (base_hash(F.col("term")) % n_buckets).alias("bucket")
        )
        .groupBy("id", "__tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the two hashed-feature distributions: n_buckets rows each side
    side = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))).alias("ct"),
        F.sum(F.when(~F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))).alias("cr"),
    )
    tot = side.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    delta = (
        side.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.floor(
                    F.lit(micro)
                    * F.log(
                        (F.col("ct") + F.lit(1)).cast("double")
                        / (F.col("tt") + F.lit(n_buckets)).cast("double")
                    )
                )
                - F.floor(
                    F.lit(micro)
                    * F.log(
                        (F.col("cr") + F.lit(1)).cast("double")
                        / (F.col("tr") + F.lit(n_buckets)).cast("double")
                    )
                )
            )
            .cast("long")
            .alias("delta_micro"),
        )
    )
    return (
        feats.filter(~F.col("__tgt"))
        .join(F.broadcast(delta), "bucket")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("delta_micro")).cast("long").alias("w_micro"),
        )
    )
