"""Lexical retrieval + hybrid fusion over document tables.

The reference engine retrieves by dense vectors only (its TF-IDF stage,
``src/dataprep`` in Human-Augment-Analytics/vectordb-retrieval, builds
EMBEDDINGS from text rather than serving lexical queries).  A
production corpus engine needs the lexical side too: BM25 scoring for
keyword queries and rank fusion to combine lexical and vector results.
Both are pure DataFrame compositions — one explode + two aggregations
for BM25 (term statistics are corpus-wide aggregates, broadcast back),
a union + groupBy for reciprocal-rank fusion — so they inherit
Catalyst's pushdown/pruning and scale with the corpus.

BM25 variant: Lucene's (k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5)))
— non-negative idf, the industry-standard form.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\s+"

# Java-regex whitespace class (what TOKEN_PATTERN's \s matches): tokens
# are maximal runs of characters OUTSIDE this set.  Python's \s is
# unicode-wider, so term classification below must use THIS set.
_JAVA_WS = " \t\n\x0b\f\r"


def _java_quote(term: str) -> str:
    """Literal-quote a term for a Java regex (\\Q...\\E, nested-safe)."""
    return "\\Q" + term.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _term_match_pattern(terms: list[str]) -> str | None:
    """Java regex matching texts that contain ≥ 1 whole token equal to a
    term, or None when no term can ever match a token.

    Tokens are the maximal non-whitespace runs TOKEN_PATTERN splits out,
    so ``(?:^|\\s)(?:t1|t2|...)(?:$|\\s)`` finds a match exactly when
    some token equals some term: the delimiters pin both token edges,
    and any single occurrence suffices for row admission (consumed
    whitespace can only hide ADDITIONAL occurrences, never the tested
    one).  Terms that are empty or contain a Java-\\s character can
    never equal a token and are excluded."""
    matchable = [
        t
        for t in dict.fromkeys(terms)
        if t and not any(c in _JAVA_WS for c in t)
    ]
    if not matchable:
        return None
    return (
        "(?:^|\\s)(?:"
        + "|".join(_java_quote(t) for t in matchable)
        + ")(?:$|\\s)"
    )


def global_rank(df: DataFrame, order_cols: list) -> DataFrame:
    """Append a contiguous global ``rank`` (1..N) by ``order_cols``
    WITHOUT an un-partitioned window: range-partitioned sort, then a
    per-partition ``row_number`` offset by the cumulative counts of the
    preceding partitions (one driver collect of #partitions rows).

    This is the full-corpus ranking path — every stage is distributed;
    the only single-point work is the tiny offsets table.  The sorted
    frame is pinned with an eager ``localCheckpoint`` so the count pass
    and the output read the same physical partitioning
    (range-partitioner boundaries are sampled, so a recompute could
    re-draw them).  Unlike ``.cache()`` this does not register in the
    CacheManager: blocks are reclaimed by the ContextCleaner when the
    ranked frame is dropped (no per-call leak), and a lost block fails
    the job loudly instead of silently recomputing different ranks."""
    sorted_df = (
        df.orderBy(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted_df.groupBy("_pid").count().collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
    off = F.broadcast(
        df.sparkSession.createDataFrame(offsets, "_pid int, _off long")
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        sorted_df.join(off, "_pid")
        .withColumn(
            "rank", (F.col("_off") + F.row_number().over(w)).cast("int")
        )
        .drop("_pid", "_off")
    )


def doc_tokens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, term) rows: whitespace tokenization, empty tokens dropped.
    Column expressions only — no UDF."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), TOKEN_PATTERN)).alias("term"),
        )
        .filter(F.length("term") > 0)
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int | None = None,
    round_scores: int | None = None,
) -> DataFrame:
    """BM25 document ranking for a bag of query terms.

    Eager at construction: the corpus statistics (document count,
    average length, per-term document frequencies) are computed by one
    Spark job while this call builds the DataFrame, and inlined into the
    returned plan as literals.  The scored rows are read from ``docs``
    again when the result runs, so ``docs`` must be a stable source: a
    source that changes in between scores against stale statistics.
    A streaming ``docs`` raises ``ValueError`` (the job cannot run on
    it); rank each micro-batch instead.

    ``round_scores`` rounds the score to that many decimals BEFORE
    ranking: summation order across partitions is engine-specific, so
    raw float scores can differ at the last ulp between runs/engines
    and flip near-tied ranks — rounding makes the rank reproducible
    (the driver-oracle convention).

    Returns (doc_id, score, rank), rank 1.. by (score desc, doc_id asc),
    only documents matching ≥1 term.  ``top_n`` limits via a
    distributed TakeOrdered (orderBy + limit — partial top-k per
    partition, no global sort), so the plan holds at corpus scale:

    - document length and the per-query-term frequencies are PER-ROW
      array expressions over one tokenization: one membership filter
      narrows the token array to query-term hits and the per-term
      counts traverse that near-empty array (r13 removed the token
      shuffles; r14 removed the O(dl x nt) per-row HOF passes and the
      pushdown-duplicated any-match filter — scoring-side admission is
      now an equivalent whole-token regex on the raw text, evaluated
      once per row at the scan),
    - document frequencies + corpus stats are one scalar-sized
      aggregate over the per-row frame, collected at construction and
      inlined as constant-folded literals (one job; recomputed from the
      input on every invocation),
    - per-document score = fixed-order sum of the per-term partials
      (the old groupBy sum accumulated in shuffle-arrival order; both
      land on the same 6-dp grid the callers round to).
    """
    if docs.isStreaming:
        raise ValueError(
            "bm25_rank computes its corpus statistics eagerly and cannot run "
            "on a streaming DataFrame; call it on each micro-batch instead"
        )
    nt = len(query_terms)
    toks_expr = F.filter(
        F.split(F.col(text_col), TOKEN_PATTERN),
        lambda x: F.length(x) > 0,
    )
    # one membership filter narrows the token array to QUERY-TERM hits
    # (near-empty for most rows), so the nt per-term counts traverse the
    # tiny ``_mt`` instead of the full token array — r14: the r13 shape
    # ran nt independent HOF filter passes over every row's full array,
    # and the any-match filter below additionally got pushed under the
    # projection and expanded, re-tokenizing every row nt more times in
    # the scan-stage Filter (guide §4.4's double-evaluation shape with
    # JVM expressions; the r13 plan's node (2) held five split() calls)
    terms_arr = F.array(*[F.lit(t) for t in dict.fromkeys(query_terms) if t])

    def _tf_of(term: str):
        # closure factory, NOT a default-arg lambda: pyspark treats a
        # 2-parameter lambda as an (element, index) HOF signature
        return F.size(F.filter("_mt", lambda x: x == F.lit(term)))

    def _per_frame(src: DataFrame) -> DataFrame:
        # docs with zero tokens never reached the old dl aggregate; the
        # trim-length test is equivalent (whitespace-only ⇒ no tokens)
        # and cheap enough that Catalyst's filter pushdown can't hurt
        return (
            src.select(F.col(id_col).alias("doc_id"), toks_expr.alias("_toks"))
            .select(
                "doc_id",
                F.size("_toks").alias("dl"),
                F.filter(
                    "_toks", lambda x: F.array_contains(terms_arr, x)
                ).alias("_mt"),
            )
            .select(
                "doc_id",
                "dl",
                *[
                    _tf_of(t).alias(f"_tf{i}")
                    for i, t in enumerate(query_terms)
                ],
            )
        )

    per = _per_frame(docs.filter(F.length(F.trim(F.col(text_col))) > 0))
    # corpus stats are ONE scalar row — collect them at construction
    # and inline as literals (r14): the broadcast-join form paid a
    # separate broadcast-build job plus a BroadcastNestedLoopJoin node
    # per invocation just to attach 7 constants to every row.  The
    # collect is the same single aggregate job, and Catalyst
    # constant-folds the literal idf arithmetic with the same JVM double
    # semantics the per-row columns had (contract in the docstring).
    srow = per.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(nt)
        ],
    ).first()
    n_docs = int(srow["n_docs"]) if srow is not None else 0
    avgdl = float(srow["avgdl"]) if srow is not None and srow["avgdl"] is not None else 0.0
    dfs = [
        int(srow[f"_df{i}"]) if srow is not None and srow[f"_df{i}"] is not None else 0
        for i in range(nt)
    ]
    # scoring-side admission (∃i: tf_i > 0) as a regex on the RAW text —
    # exactly equivalent to the per-term any-match disjunction (see
    # _term_match_pattern) but evaluated once per row at the scan, so
    # filter pushdown has nothing to duplicate.  A matching row is
    # non-whitespace by construction, so the trim prefilter is implied.
    pattern = _term_match_pattern(query_terms) if nt else None
    if pattern is None:
        matched = per.filter(F.lit(False))  # no term can match any token
    else:
        matched = _per_frame(docs.filter(F.col(text_col).rlike(pattern)))
    score = F.lit(0.0)
    for i in range(nt):
        tf_i = F.col(f"_tf{i}").cast("double")
        idf_i = F.log(
            1.0
            + (F.lit(n_docs) - F.lit(dfs[i]) + 0.5)
            / (F.lit(dfs[i]) + 0.5)
        )
        score_i = (
            idf_i
            * (tf_i * (k1 + 1.0))
            / (tf_i + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        )
        score = score + F.when(F.col(f"_tf{i}") > 0, score_i).otherwise(0.0)
    scored = matched.select("doc_id", score.alias("score"))
    if round_scores is not None:
        scored = scored.withColumn(
            "score", F.round(F.col("score"), round_scores)
        )
    order = [F.col("score").desc(), F.col("doc_id")]
    if top_n is not None:
        # distributed TakeOrdered, then a window over ≤ top_n rows
        ranked = scored.orderBy(*order).limit(top_n)
        w = Window.orderBy(*order)
        return ranked.select(
            "doc_id", "score", F.row_number().over(w).alias("rank")
        )
    # full-corpus ranking: no single-partition window (see global_rank)
    return global_rank(scored, order).select("doc_id", "score", "rank")


def bm25_search(
    docs: DataFrame,
    query_df: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    terms_col: str = "terms",
    k: int = 10,
) -> DataFrame:
    """Batched BM25 search: every query row carries its own term bag
    (``terms_col``: array<string>); returns each query's top-k docs as
    (qid, doc_id, score, rank), rank by (score desc, doc_id).

    Plan shape at corpus scale: corpus statistics (lengths, df, avgdl)
    are query-independent aggregates; the query side contributes only a
    distinct-term broadcast that prunes the exploded token stream before
    its tf shuffle, and a per-(qid, term) broadcast join onto the tf
    table.  Per-query top-k is a qid-partitioned window
    (WindowGroupLimit — partial top-k before the exchange)."""
    toks = doc_tokens(docs, id_col, text_col)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    qterms = query_df.select(
        F.col(qid_col).alias("qid"), F.explode(F.col(terms_col)).alias("term")
    ).distinct()
    term_set = qterms.select("term").distinct()
    tf = (
        toks.join(F.broadcast(term_set), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "score_t",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("score_t").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_id", "score", "rank")
    )


class BM25Indexer:
    """Lexical index artifact: tokenize once, persist the postings.

    Tables (all Parquet-persistable via ``persistence.save_artifact``):
    - ``postings``  (term, doc_id, tf, dl) — the inverted index; the
      document length is DENORMALIZED into each posting (the classic
      search-engine layout) so a query batch reads only its terms'
      postings and never joins the corpus-sized doclens table
    - ``doclens``   (doc_id, dl)           — kept for introspection
    - ``termstats`` (term, df)             — document frequencies
    Params: k1, b, n_docs, avgdl.

    At corpus scale the postings table is the big side; bucket it by
    ``term`` (sources/bucketed.py) so per-term probes co-locate.  The
    searcher's math is identical to the ad-hoc ``bm25_search`` — the
    artifact just pre-pays tokenization + aggregation once per corpus
    instead of once per query batch."""

    def __init__(
        self,
        k1: float = 1.2,
        b: float = 0.75,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.k1 = k1
        self.b = b
        self.id_col = id_col
        self.text_col = text_col

    def build(self, docs: DataFrame):
        from vectordb_retrieval_spark.artifacts import IndexArtifact

        toks = doc_tokens(docs, self.id_col, self.text_col)
        dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
        postings = (
            toks.groupBy("term", "doc_id")
            .agg(F.count("*").alias("tf"))
            .join(dl, "doc_id")
            .select("term", "doc_id", "tf", "dl")
        )
        termstats = postings.groupBy("term").agg(F.count("*").alias("df"))
        # corpus totals as EXACT integers (avgdl = one double division at
        # the end): float-accumulated avg is order-dependent at corpus
        # scale, and integer totals make incremental ingestion
        # (bm25_append) bit-identical to a rebuild
        n_docs, sum_dl = dl.agg(F.count("*"), F.sum("dl")).first()
        n_docs = int(n_docs)
        sum_dl = int(sum_dl) if sum_dl is not None else 0
        return IndexArtifact(
            kind="bm25",
            tables={
                "postings": postings,
                "doclens": dl,
                "termstats": termstats,
            },
            params={
                "k1": self.k1,
                "b": self.b,
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
            },
        )


def bm25_append(
    artifact,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Incremental lexical ingestion: tokenize ONLY the new documents
    and append — the streaming sibling of ``ivf_append`` (FAISS
    ``index.add`` semantics; cite src/benchmark in the reference for
    the batch-rebuild loop this replaces).

    append ≡ rebuild EXACTLY: the postings row set is the union (each
    doc lives in one batch), per-term df and the corpus totals are
    integer sums, and avgdl is the same single double division — so a
    searcher over the appended artifact is bit-identical to one over a
    full rebuild (pytest-pinned).

    Scale shape: the new batch's tokenize/aggregate touches new rows
    only; on a persisted term-bucketed postings table the union is a
    file append into existing buckets.  Lineage grows one union per
    batch — rebuild cadence is the caller's policy knob, same as IVF."""
    from vectordb_retrieval_spark.artifacts import IndexArtifact

    toks = doc_tokens(new_docs, id_col, text_col)
    dl_new = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    postings_new = (
        toks.groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        .join(dl_new, "doc_id")
        .select("term", "doc_id", "tf", "dl")
    )
    df_new = postings_new.groupBy("term").agg(F.count("*").alias("df"))
    termstats = (
        artifact.tables["termstats"]
        .unionByName(df_new)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    n_new, sum_new = dl_new.agg(F.count("*"), F.sum("dl")).first()
    n_docs = int(artifact.params["n_docs"]) + int(n_new)
    sum_dl = int(artifact.params.get("sum_dl", 0)) + (
        int(sum_new) if sum_new is not None else 0
    )
    return IndexArtifact(
        kind="bm25",
        tables={
            "postings": artifact.tables["postings"].unionByName(postings_new),
            "doclens": artifact.tables["doclens"].unionByName(dl_new),
            "termstats": termstats,
        },
        params={
            **{k: v for k, v in artifact.params.items()},
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        },
        metadata={**getattr(artifact, "metadata", {}), "appended": True},
    )


class BM25Searcher:
    """Batched BM25 over a built/loaded ``BM25Indexer`` artifact.
    Identical scores and ranking to ``bm25_search`` (pytest-pinned) —
    the index is precomputation, not an approximation."""

    def __init__(self):
        self.artifact = None

    def attach(self, artifact) -> "BM25Searcher":
        self.artifact = artifact
        return self

    def search(
        self,
        query_df: DataFrame,
        k: int = 10,
        qid_col: str = "qid",
        terms_col: str = "terms",
    ) -> DataFrame:
        art = self.artifact
        if art is None:
            raise RuntimeError("searcher not attached to a BM25 artifact")
        k1 = float(art.params["k1"])
        b = float(art.params["b"])
        n_docs = float(art.params["n_docs"])
        avgdl = float(art.params["avgdl"])
        # NOT cached: a per-search cache entry would accumulate at
        # serving rates, and the frame is a trivial explode+distinct
        qterms = query_df.select(
            F.col(qid_col).alias("qid"),
            F.explode(F.col(terms_col)).alias("term"),
        ).distinct()
        # the query batch's term set is driver-small by contract:
        # collect it and filter the postings with a LITERAL isin — a
        # broadcast join alone still SCANS the whole postings table,
        # while the literal predicate pushes into the scan (parquet
        # row-group skip / in-memory batch pruning; measured 7.6 s →
        # sub-second per batch on an 80M-row postings table)
        term_list = [r["term"] for r in qterms.select("term").distinct().collect()]
        postings_q = art.tables["postings"].filter(
            F.col("term").isin(term_list)
        )
        tstats_q = art.tables["termstats"].filter(
            F.col("term").isin(term_list)
        )
        scored = (
            postings_q
            .join(F.broadcast(qterms), "term")
            .join(F.broadcast(tstats_q), "term")
            .withColumn(
                "score_t",
                F.log(
                    1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
                ),
            )
            .groupBy("qid", "doc_id")
            .agg(F.sum("score_t").alias("score"))
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("score").desc(), F.col("doc_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "doc_id", "score", "rank")
        )


def rrf_fuse_by_query(
    rankings: list[DataFrame],
    *,
    k: int = 60,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top_n: int | None = None,
) -> DataFrame:
    """Per-query reciprocal-rank fusion: each input carries
    (qid, doc_id, rank); score(q, d) = Σ_r 1/(k + rank_r(q, d)).
    Returns (qid, doc_id, rrf_score, rank ≤ top_n) ranked by
    (score desc, doc_id) within each query — union + one groupBy +
    a qid-partitioned window (WindowGroupLimit partial top-k)."""
    parts = [
        r.select(
            F.col(qid_col).alias("qid"),
            F.col(id_col).alias("doc_id"),
            (1.0 / (F.lit(float(k)) + F.col(rank_col))).alias("contrib"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("qid", "doc_id").agg(
        F.sum("contrib").alias("rrf_score")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    out = fused.withColumn("rank", F.row_number().over(w))
    if top_n is not None:
        out = out.filter(F.col("rank") <= top_n)
    return out.select("qid", "doc_id", "rrf_score", "rank")


def hybrid_search(
    docs: DataFrame,
    emb_df: DataFrame,
    query_df: DataFrame,
    *,
    k: int = 10,
    cand: int = 50,
    rrf_k: int = 60,
    metric: str = "cosine",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    emb_col: str = "embedding",
    qid_col: str = "qid",
    terms_col: str = "terms",
    qvec_col: str = "qvec",
) -> DataFrame:
    """One-call batched hybrid retrieval: every query row carries a term
    bag AND an embedding; BM25 top-``cand`` and dense exact top-``cand``
    are fused per query by RRF.  ``docs`` and ``emb_df`` share the doc
    id space.  Returns (qid, doc_id, rrf_score, rank ≤ k).

    Scale shape: the lexical side is ``bm25_search`` (corpus stats
    amortized across the batch), the dense side the broadcast-query GEMM
    kNN; fusion is a union + one (qid, doc_id) groupBy."""
    lex = bm25_search(
        docs,
        query_df.select(qid_col, terms_col),
        id_col=doc_id_col,
        text_col=text_col,
        qid_col=qid_col,
        terms_col=terms_col,
        k=cand,
    )
    from vectordb_retrieval_spark.operators.exact import exact_knn

    dense = exact_knn(
        emb_df,
        query_df,
        cand,
        metric,
        id_col=emb_id_col,
        vec_col=emb_col,
        qid_col=qid_col,
        qvec_col=qvec_col,
    ).select("qid", F.col("id").alias("doc_id"), "rank")
    return rrf_fuse_by_query(
        [lex, dense], k=rrf_k, top_n=k
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack & Clarke, SIGIR'09):
    score(d) = Σ_r 1/(k + rank_r(d)) over the rankings that contain d.
    Returns (doc_id, rrf_score, rank) by (score desc, id asc).  A
    union + one groupBy — no per-ranking state, scales with the union
    of the candidate lists."""
    parts = [
        r.select(
            F.col(id_col).alias("doc_id"),
            (1.0 / (F.lit(float(k)) + F.col(rank_col))).alias("contrib"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("doc_id").agg(F.sum("contrib").alias("rrf_score"))
    order = [F.col("rrf_score").desc(), F.col("doc_id")]
    if top_n is not None:
        ranked = fused.orderBy(*order).limit(top_n)
        w = Window.orderBy(*order)
        return ranked.select(
            "doc_id", "rrf_score", F.row_number().over(w).alias("rank")
        )
    # full-set ranking without the single-partition window
    return global_rank(fused, order).select("doc_id", "rrf_score", "rank")
