"""Text ranking / frequency-sketch operators: TF-IDF, BM25, and a
Count-Min frequency sketch.

Beyond-reference scope (the reference has no text stack); these are
the retrieval-side primitives a 100-TB training-data pipeline needs
next to the dedup/decontamination family in :mod:`xesmf_spark.pipeline`
— scoring documents against corpus statistics, ranked keyword search,
and bounded-memory frequency estimation whose state is a mergeable
matrix rather than a per-key hashmap.

Determinism discipline (the repo-wide integer-exactness playbook):
every log is taken of a ratio of EXACT integers and floored to
micro-units BEFORE any sum or argmin; every division after that is
truncating BIGINT ``div`` on positive operands, so Spark and the
DuckDB oracle replay bit-for-bit.  Tokenization shares
:func:`xesmf_spark.pipeline.tokens` (lowercase, whitespace-collapsed)
— the one definition every oracle mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xesmf_spark.materialize import pin
from xesmf_spark.pipeline import tokens

M = 1_000_000


def term_counts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — one row per distinct term per document.

    Scale shape: explode + one (id, term)-keyed hash agg with map-side
    combine; the dominant cost is the explode itself, which is the
    irreducible work of reading every token once."""
    return (
        docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, doc_len) token counts — a pure projection."""
    return docs.select(
        id_col, F.size(tokens(F.col(text_col))).alias("doc_len")
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    ``idf_micro = FLOOR(1e6 * ln(N / df))`` (N = corpus size, df =
    documents containing the term — a ratio of exact integers, so both
    engines feed ln identical doubles), ``score_micro = tf *
    idf_micro`` — exact BIGINT, order-independent.  Ties broken by
    term ASC for a total order.

    Scale shape: the (id, term) tf table is built once (explode + one
    keyed agg); df is a second agg over that REDUCED pair table; the
    idf join is term-keyed (never broadcast-assumed — a web-scale
    vocabulary is not a small dim); the final per-doc top-k window
    partitions by doc.  N is the one driver scalar (a count)."""
    pairs = term_counts(docs, id_col, text_col)
    n_docs = docs.count()
    df_tbl = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_tbl.select(
        "term",
        F.floor(
            F.lit(float(M))
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
        ).cast("long").alias("idf_micro"),
    )
    scored = pairs.join(idf, "term").select(
        id_col,
        "term",
        "tf",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1_micro: int = 1_200_000,
    b_micro: int = 750_000,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents by BM25 against a bag of query terms, in
    EXACT integer micro-units.

    Per (doc, query term):
      ``idf_micro   = FLOOR(1e6 * ln((2N + 2) / (2 df + 1)))``
        (the Lucene ``ln(1 + (N - df + .5)/(df + .5))`` rewritten as a
        ratio of exact integers — always positive),
      ``norm_micro  = (1e6 - b) + (b * doc_len * 1e6) div avg_len_micro``,
      ``den_micro   = tf * 1e6 + (k1 * norm_micro) div 1e6``,
      ``score_micro = (idf_micro * tf * (k1 + 1e6)) div den_micro``;
    per-doc score = SUM of term scores (each floored first, so the sum
    is order-independent BIGINT), top-k by (score DESC, id ASC).

    Scale shape: corpus stats (N, total tokens) are one aggregate
    collect; the pair table is filtered to the query's terms BEFORE the
    df/score joins, so the scored relation is |terms|-bounded per doc;
    final top-k is a global TakeOrdered (no full sort at any size)."""
    pairs = term_counts(docs, id_col, text_col)
    lens = doc_lengths(docs, id_col, text_col)
    n_docs, total_tokens = (
        lens.agg(
            F.count(F.lit(1)), F.sum("doc_len").cast("long")
        ).first()
    )
    if not n_docs:
        return docs.sparkSession.createDataFrame(
            [], f"{id_col} long, score_micro long"
        )
    # every doc tokenizes to >= 1 token ([''] for empty text), so the
    # corpus total is >= n_docs and the micro average >= 1e6 — the
    # max() is belt-and-braces against a future tokenizer change
    # making the div-by-zero NULL path reachable
    avg_len_micro = max(1, (M * int(total_tokens)) // int(n_docs))
    qp = pairs.filter(F.col("term").isin(query_terms))
    df_tbl = qp.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_tbl.select(
        "term",
        F.floor(
            F.lit(float(M))
            * F.log(
                F.lit(float(2 * n_docs + 2))
                / (F.lit(2) * F.col("df") + F.lit(1)).cast("double")
            )
        ).cast("long").alias("idf_micro"),
    )
    scored = (
        qp.join(idf, "term")
        .join(lens, id_col)
        .withColumn(
            "__norm",
            F.lit(M - b_micro)
            + F.expr(
                f"({b_micro}L * doc_len * {M}L) div {avg_len_micro}L"
            ),
        )
        .withColumn(
            "__den",
            F.col("tf") * F.lit(M)
            + F.expr(f"({k1_micro}L * __norm) div {M}L"),
        )
        .withColumn(
            "__s",
            F.expr(f"(idf_micro * tf * ({k1_micro}L + {M}L)) div __den"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("__s").alias("score_micro"))
        .orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _cms_hash(term, i: int, w: int):
    """Row-``i`` Count-Min bucket for ``term``: first 8 md5 hex chars of
    ``"i:term"`` as a BIGINT, mod ``w`` — engine-portable (md5 + base
    conversion exist identically in Spark and DuckDB)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(F.lit(f"{i}:"), term), "utf-8")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % w
    )


def cms_build(
    items: DataFrame,
    item_col: str,
    d: int = 4,
    w: int = 64,
) -> DataFrame:
    """Count-Min sketch of an item stream: a ``d x w`` counter matrix
    as (row, bucket, cnt) rows.  The sketch is a MERGEABLE monoid
    (element-wise +, i.e. UNION ALL + re-count), the property that
    lets 100-TB frequency state live as d*w integers per partition /
    per day / per shard instead of a per-key hashmap — the same
    discipline as the HLL and Misra-Gries state in this repo
    (:func:`xesmf_spark.pipeline.heavy_hitters`), trading the MG
    sketch's top-k contract for point-query upper bounds on ANY key.

    Scale shape: a d-fold in-row expand of the stream followed by one
    map-side-combinable count on a key space of at most d*w — the
    shuffle carries <= partitions * d * w rows regardless of volume."""
    c = F.col(item_col)
    rows = F.array(
        *[
            F.struct(F.lit(i).alias("row"), _cms_hash(c, i, w).alias("bucket"))
            for i in range(d)
        ]
    )
    return (
        items.select(F.explode(rows).alias("rb"))
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimates(
    spark: SparkSession,
    counters: DataFrame,
    terms: list[str],
    d: int = 4,
    w: int = 64,
) -> DataFrame:
    """Point-frequency estimates for ``terms`` from a Count-Min counter
    matrix: est(t) = MIN over rows i of counter[i][h_i(t)] (0 when the
    bucket has no counter row).  The CM theorem's one-sided guarantee —
    est >= true count, always — is deterministic, not probabilistic,
    and the driver query states it as a contract boolean."""
    probe = spark.createDataFrame([(t,) for t in terms], "term string")
    pr = probe.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_hash(F.col("term"), i, w).alias("bucket"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("rb"),
    ).select("term", "rb.row", "rb.bucket")
    return (
        pr.join(counters, ["row", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_n"))
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_k: int = 5,
) -> DataFrame:
    """Inverted-index summary: per term, document frequency, total term
    frequency, and the first ``sample_k`` posting doc ids (sorted) —
    the head of the posting list a search index would materialize.

    Scale shape: built from the (id, term) tf table; the per-term
    posting sample is BOUNDED before collection (row_number <= k over
    the term partition, then a k-bounded collect_list) — never an
    unbounded list agg on a hot term.  A hot-term skewed sort is the
    residual cost; at index-build scale, feed the pair table through
    :func:`xesmf_spark.relational.topk_per_group` first to cap the
    shuffle too."""
    pairs = term_counts(docs, id_col, text_col)
    w = Window.partitionBy("term").orderBy(id_col)
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("__rn") <= sample_k, F.col(id_col))
                )
            ).alias("postings_sample"),
        )
    )


def query_likelihood_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    mu: int = 2000,
    k: int = 10,
    micro: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` documents by the Dirichlet-smoothed QUERY-LIKELIHOOD
    language model (Ponte & Croft 1998; Zhai & Lafferty 2001 — the
    probabilistic ranking twin of :func:`bm25_topk`):

        score(d) = Σ_{t∈q} ln P(t|d),
        P(t|d)   = (tf_td + μ·cf_t/T) / (dl_d + μ)
                 = (tf_td·T + μ·cf_t) / (T·(dl_d + μ))

    with cf_t the corpus frequency, T total corpus tokens, dl_d the doc
    length.  Unlike BM25, EVERY document scores every query term
    (zero-tf terms take the collection prior), so the ranking is a
    proper likelihood.

    EXACT integer discipline: per (doc, term),
    ``lp_micro = FLOOR(micro·ln(tf·T + μ·cf)) − FLOOR(micro·ln(T·(dl+μ)))``
    — each ln() argument is ONE BIGINT, so both engines cast the SAME
    integer to the SAME double (bit-identical even past 2^53 — IEEE
    casts are deterministic) and the per-doc sum is an
    order-independent BIGINT.  The loud wrap gate bounds the LARGEST
    product either engine forms — T·(max_dl+μ), which also bounds
    tf·T + μ·cf — against 2^63−1 (checked in double, which cannot
    wrap): nothing may WRAP under Spark's non-ANSI multiply where
    DuckDB's HUGEINT keeps going.  Query terms absent
    from the corpus (cf = 0 ⇒ P = 0, score −∞) raise loudly rather
    than silently skewing ranks.  Top-k by (score DESC, id ASC) via
    TakeOrdered — no global sort.

    Scale shape: ONE token explode filtered to the |q| query terms
    BEFORE the tf agg (predicate on the explode output — |q| is a tiny
    constant; the filtered table is term-bounded and PERSISTED for its
    two consumers), one projection for doc lengths (which also yields
    the corpus total T — no second tokenize), the |q|-row term table
    broadcast onto the doc-length table (docs × |q| scored rows), one
    doc-keyed agg."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if mu < 1:
        raise ValueError(f"mu must be >= 1, got {mu}")
    terms = sorted(set(query_terms))
    lens = doc_lengths(docs, id_col, text_col)
    tok = pin(
        docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term").isin(terms))
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # corpus totals: T = sum of per-doc lengths — the lens projection
    # already tokenized every doc, no second corpus pass
    totals = lens.agg(
        F.sum("doc_len").cast("long").alias("T"),
        F.max("doc_len").cast("long").alias("max_dl"),
    )
    cf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    axis = docs.sparkSession.createDataFrame(
        [(t,) for t in terms], "term string"
    )
    cf_full = (
        axis.join(cf, "term", "left")
        .select("term", F.coalesce("cf", F.lit(0)).alias("cf"))
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.expr(
                "CASE WHEN cf = 0 THEN "
                "CAST(raise_error(concat('query_likelihood_topk: term \\'', "
                "term, '\\' has zero corpus frequency — P(t|d) = 0 for every "
                "doc')) AS BIGINT) ELSE cf END"
            ).alias("cf"),
            # wrap gate on the LARGEST BIGINT either engine forms:
            # T·(max_dl+μ) bounds tf·T + μ·cf too (tf ≤ dl ≤ max_dl,
            # cf ≤ T).  Checked in DOUBLE (can't wrap) against 9e18
            # (< 2^63−1, margin for double rounding) — bare T gates
            # miss long docs: T near 4e12 with a 2.4M-token doc wraps
            # T·(dl+μ) while DuckDB's HUGEINT stays exact (r14 ADVICE).
            F.expr(
                f"CASE WHEN CAST(T AS DOUBLE) * (max_dl + {mu}) "
                "> 9.0e18 THEN "
                "CAST(raise_error('query_likelihood_topk: T*(max_doc_len"
                "+mu) exceeds the BIGINT wrap bound — scores would wrap "
                "under non-ANSI multiply') AS BIGINT) "
                "ELSE T END"
            ).alias("T"),
        )
    )
    scored = (
        lens.crossJoin(F.broadcast(cf_full))
        .join(tf, [id_col, "term"], "left")
        .select(
            id_col,
            "doc_len",
            (
                F.floor(
                    F.lit(micro)
                    * F.log(
                        (
                            F.coalesce(F.col("tf"), F.lit(0)) * F.col("T")
                            + F.lit(mu) * F.col("cf")
                        ).cast("double")
                    )
                ).cast("long")
                - F.floor(
                    F.lit(micro)
                    * F.log(
                        (F.col("T") * (F.col("doc_len") + F.lit(mu))).cast(
                            "double"
                        )
                    )
                ).cast("long")
            ).alias("lp_micro"),
        )
        .groupBy(id_col, "doc_len")
        .agg(F.sum("lp_micro").alias("score_micro"))
    )
    return (
        scored.select(id_col, F.col("doc_len").alias("n_tokens"), "score_micro")
        .orderBy(F.desc("score_micro"), F.asc(id_col))
        .limit(k)
    )


def hybrid_rrf(
    lex: DataFrame,
    sem: DataFrame,
    k_rrf: int = 60,
    topk: int = 3,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval legs — THE
    production hybrid-search combiner (Cormack, Clarke & Buettcher
    2009, public knowledge): each leg supplies ``(query_id,
    neighbor_id, rank)``; a document's fused score is
    ``Σ_legs 1/(k_rrf + rank)``, computed here as the EXACT integer
    ``1_000_000_000 // (k_rrf + rank)`` per leg summed in BIGINT —
    no float anywhere, so the DuckDB oracle reproduces every score
    bit-for-bit.  Documents surfaced by only one leg simply
    contribute one term (RRF's built-in union semantics).  Output:
    ``(query_id, neighbor_id, rrf_score, rank)`` — per query the top
    ``topk`` by (score DESC, neighbor ASC).

    Scale shape: a unionByName of the (already small, per-query-top-k)
    legs, one keyed groupBy-SUM, one per-query window over <=
    2·leg_k candidate rows — the fusion itself never touches the
    corpus."""
    legs = lex.select("query_id", "neighbor_id", "rank").unionByName(
        sem.select("query_id", "neighbor_id", "rank")
    )
    scored = legs.select(
        "query_id",
        "neighbor_id",
        F.expr(f"1000000000 DIV ({k_rrf} + rank)").alias("pts"),
    )
    fused = scored.groupBy("query_id", "neighbor_id").agg(
        F.sum("pts").alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )


def proximity_pairs(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    max_gap: int = 3,
    ordered: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """POSITIONAL proximity search — the query class an inverted index
    with positions serves and bag-of-words scoring (TF-IDF/BM25)
    cannot: documents where ``term_b`` occurs within ``max_gap`` token
    positions AFTER ``term_a`` (``ordered=True``; the phrase/near
    operator), or within ±``max_gap`` either side (``ordered=False``).
    Token positions come from the shared normalizing tokenizer
    (``pipeline.tokens``), so positions are identical in the SQL
    replay.  ``max_gap=1, ordered=True`` is exact-phrase adjacency.

    Output: ``(doc_id, n_matches, min_gap)`` — occurrence-pair count
    and the tightest gap per matching document, both exact integers.

    Scale shape: one posexplode, two term-filtered position lists
    (pushed-down equality filters — each is term-frequency-sized, not
    corpus-sized), ONE doc-keyed equi-join between them, one keyed
    agg.  Per-doc cost is tf_a·tf_b — bounded by in-document term
    frequency, never corpus-shaped; for stop-word-grade terms run the
    stopword filter first (the hot-shingle valve's advice)."""
    from xesmf_spark.pipeline import tokens

    if max_gap < 1:
        raise ValueError(f"max_gap must be >= 1, got {max_gap}")
    pos = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    )
    a = pos.filter(F.col("term") == term_a).select(
        id_col, F.col("pos").alias("__pa")
    )
    b = pos.filter(F.col("term") == term_b).select(
        id_col, F.col("pos").alias("__pb")
    )
    gap = F.col("__pb") - F.col("__pa")
    cond = (
        (gap >= 1) & (gap <= max_gap)
        if ordered
        else (F.abs(gap) >= 1) & (F.abs(gap) <= max_gap)
    )
    eff = gap if ordered else F.abs(gap)
    return (
        a.join(b, id_col)
        .filter(cond)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min(eff).cast("long").alias("min_gap"),
        )
    )
