"""Exact substring (span-level) deduplication.

Spark-native re-expression of the k-token-gram duplicate-span removal
popularized by Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better" (arXiv:2107.06499).  The paper builds one giant
suffix array; a 100 TB corpus wants the shuffle-friendly equivalent:
every length-k token window is hashed, windows whose hash occurs >=
``min_count`` times corpus-wide are duplicated, and per document the
overlapping duplicated windows merge into maximal duplicated spans
(gaps-and-islands).  A fixed k trades the paper's "any length >= L"
guarantee for pure DataFrame algebra: any duplicated substring of
>= k tokens is found exactly (its windows all collide), shorter ones are
ignored by construction.

No analogue exists in the reference repo (its dedup is a whole-document
dict pass, src/benchmark/dataset.py:732-741); this module is part of the
beyond-reference training-data layer the task brief asks for.

Scale shape (100 TB notes):
- gram hashing is one projection + posexplode — n_tokens rows per doc,
  the same cardinality the MinHash shingle explode already pays;
- duplicated-window detection is a single count window partitioned by
  the 60-bit gram hash (one map-side-combinable shuffle, no join-back);
- span merge and text rebuild are windows/aggregations partitioned by
  doc id — never a global window;
- the cut explodes at most k covered positions per duplicated window
  (bounded) and rebuilds text with one per-doc aggregation.
Everything is built-in column expressions — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectordb_retrieval_spark.operators.dedup import hash60, tokens_expr


def gram_positions(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, gh): 60-bit hash of each length-k token window.

    ``pos`` is the 1-based index of the window's first token.  Documents
    shorter than k tokens contribute no rows.  The hash is the md5-based
    :func:`~vectordb_retrieval_spark.operators.dedup.hash60`, so an
    external SQL engine reproduces it exactly.
    """
    if k < 1:
        raise ValueError(f"gram_positions: k must be >= 1, got {k}")
    base = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= k)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - F.lit(k - 1)),
        lambda i: hash60(F.concat_ws(" ", F.slice(F.col("toks"), i, k))),
    )
    return base.select("id", F.posexplode(grams).alias("p0", "gh")).select(
        "id", (F.col("p0") + 1).cast("long").alias("pos"), "gh"
    )


def _dup_positions(
    df: DataFrame,
    k: int,
    min_count: int,
    id_col: str,
    text_col: str,
    max_gram_df: int | None = None,
) -> DataFrame:
    """(id, pos) of every window whose gram hash repeats >= min_count
    times corpus-wide.  One shuffle (count window on the gram hash).

    Plan choice measured, not assumed (interleaved A/B, 300k docs x 75
    grams): this count-window form 13.2s;
    groupBy + join-back 24.4s (the join side recomputes the md5 gram
    pass, which dominates); groupBy + collect_list + slice-explode
    13.5s (same shuffle, heavier aggregate).  The window's sort is NOT the
    bottleneck at this row width.

    ``max_gram_df`` is the hot-key guard (same convention as decontam's
    ``max_bench_gram_df``, textops.py): the count window partitions by
    the gram hash, so a degenerate gram repeated millions of times
    (boilerplate) lands every occurrence on ONE partition — a straggler
    locally, an un-fittable task at 100 TB.  With the guard, gram
    frequencies above the bound are found first by a map-side-
    combinable aggregate (partial aggregation collapses hot keys on the
    map side — aggregation has no skew problem), the (tiny) hot set is
    broadcast back as a flag, and ONE window partitioned by
    ``(gh, salt)`` runs with hot rows salted across 64 sub-buckets:
    a hot row's sub-bucket count is meaningless but unused — the flag
    alone marks it duplicated (df > bound >= min_count) — while cold
    rows keep salt 0 and exact counts.  No partition ever receives more
    than max(cold-key df, hot-key df / 64) rows of one gram.  Result
    set is identical with or without the guard (pinned in
    tests/test_substring_dedup.py); the price is one extra evaluation
    of the gram-hash projection for the hot-set aggregate, so the
    guard defaults off for small corpora and on in the scale probes."""
    g = gram_positions(df, k, id_col, text_col)
    if max_gram_df is not None:
        if max_gram_df < min_count:
            raise ValueError(
                f"max_gram_df={max_gram_df} must be >= min_count="
                f"{min_count}: grams above the bound are emitted as "
                "duplicated without passing the count window"
            )
        hot = (
            g.groupBy("gh")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > max_gram_df)
            .select("gh", F.lit(True).alias("is_hot"))
        )
        flagged = g.join(F.broadcast(hot), on="gh", how="left").withColumn(
            "salt",
            F.when(
                F.col("is_hot"),
                F.pmod(F.xxhash64(F.col("id"), F.col("pos")), F.lit(64)),
            ).otherwise(F.lit(0)),
        )
        cnt_s = F.count("*").over(Window.partitionBy("gh", "salt"))
        return (
            flagged.withColumn("cnt", cnt_s)
            .filter(F.col("is_hot").isNotNull() | (F.col("cnt") >= min_count))
            .select("id", "pos")
        )
    cnt = F.count("*").over(Window.partitionBy("gh"))
    return g.withColumn("cnt", cnt).filter(F.col("cnt") >= min_count).select("id", "pos")


def duplicated_spans(
    df: DataFrame,
    k: int = 6,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
) -> DataFrame:
    """Maximal duplicated spans per document.

    Returns (doc_id, span_start, span_end, n_grams): 1-based inclusive
    token extents of each maximal run of overlapping duplicated k-token
    windows, plus how many duplicated windows the span merged.  Two
    windows at positions p < q merge iff q - p <= k (their coverage
    [p, p+k-1] and [q, q+k-1] touches or overlaps).
    """
    d = _dup_positions(df, k, min_count, id_col, text_col, max_gram_df)
    w = Window.partitionBy("id").orderBy("pos")
    lag_pos = F.lag("pos", 1).over(w)
    brk = F.when(
        lag_pos.isNull() | (F.col("pos") - lag_pos <= k), F.lit(0)
    ).otherwise(F.lit(1))
    isl = d.withColumn(
        "island",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select(
            F.col("id").alias("doc_id"),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            F.col("n_grams").cast("long").alias("n_grams"),
        )
    )


def substring_dedup(
    df: DataFrame,
    k: int = 6,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_text: bool = False,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Cut every duplicated span out of every document.

    Returns one row per input document:
    (doc_id, n_tokens, n_removed, text_hash) where ``n_removed`` counts
    tokens covered by at least one duplicated window and ``text_hash``
    is md5 of the rebuilt text (kept tokens joined by single spaces;
    empty string when everything was cut or the document was empty).
    ``with_text=True`` adds the rebuilt text itself as ``text_clean``
    (for pipeline composition — e.g. a downstream quality gate).

    This is the "remove all copies" policy of the Lee et al. tool; to
    keep one canonical copy per duplicate cluster, filter the
    :func:`duplicated_spans` side with a first-occurrence rule before
    feeding it here — the cut itself is policy-free.
    """
    cov = (
        _dup_positions(df, k, min_count, id_col, text_col, max_gram_df)
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cpos"),
        )
        .distinct()
    )
    base = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("toks")
    )
    tokd = base.select("id", F.posexplode("toks").alias("p0", "tok")).select(
        "id", (F.col("p0") + 1).cast("long").alias("pos"), "tok"
    )
    kept = tokd.join(
        cov.withColumnRenamed("cpos", "pos"), on=["id", "pos"], how="left_anti"
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("txt")
    )
    n_cov = cov.groupBy("id").agg(F.count("*").alias("n_removed"))
    stats = base.select("id", F.size("toks").cast("long").alias("n_tokens"))
    cols = [
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.md5(F.coalesce(F.col("txt"), F.lit(""))).alias("text_hash"),
    ]
    if with_text:
        cols.append(F.coalesce(F.col("txt"), F.lit("")).alias("text_clean"))
    return (
        stats.join(n_cov, on="id", how="left")
        .join(rebuilt, on="id", how="left")
        .select(*cols)
    )


# winnowing packs (reduced hash, reversed position) into one orderable
# BIGINT so the rightmost-minimum tie rule is pure integer MIN in any
# engine: 40-bit hash above, 20-bit (2^20-1 - pos) below
_WINNOW_POS_BITS = 20
_WINNOW_POS_MAX = (1 << _WINNOW_POS_BITS) - 1


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting"):
    hash every k-token gram, slide a window of ``window`` consecutive
    gram hashes over each document, and record each window's minimum
    hash — rightmost position on ties (the paper's robust-winnowing
    rule).  Guarantees every shared run of at least k + window - 1
    tokens contributes a matching fingerprint, at ~2/(window+1)
    selection density — the coverage/size trade MOSS-style overlap
    detection is built on.

    Returns (doc_id, pos, fp): 1-based gram position and the 40-bit
    reduced gram hash of each selected fingerprint.

    Scale: gram hashing is the same single projection as substring
    dedup; selection is ONE min window partitioned by doc id (never
    global) over an integer encoding of (hash, reversed pos), so the
    rightmost-min tie rule costs nothing and an external SQL engine
    reproduces the selection exactly.  Documents shorter than
    k + window - 1 tokens contribute no fingerprints (no complete
    window)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    g = gram_positions(df, k, id_col, text_col)
    # 40-bit reduction keeps (hash << 20 | reversed pos) inside int64;
    # the position guard lives INSIDE the consumed expression (a
    # separate assert_true column would be pruned by Catalyst), so a
    # 2^20+-gram document raises instead of silently corrupting the
    # encoding
    enc = F.shiftleft(F.shiftright(F.col("gh"), 20), _WINNOW_POS_BITS) + F.when(
        F.col("pos") <= F.lit(_WINNOW_POS_MAX),
        F.lit(_WINNOW_POS_MAX) - F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "winnow_fingerprints: document exceeds 2^20 grams — the "
                "(hash, pos) encoding would overflow"
            )
        ).cast("long")
    )
    n_grams = F.max("pos").over(Window.partitionBy("id"))
    wmin = F.min("enc").over(
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    )
    sel = (
        g.withColumn("enc", enc)
        .withColumn("n_grams", n_grams)
        .withColumn("wmin", wmin)
        # only complete windows select fingerprints (the paper's rule)
        .filter(F.col("pos") <= F.col("n_grams") - F.lit(window - 1))
        .select(
            "id",
            (F.lit(_WINNOW_POS_MAX) - F.pmod(F.col("wmin"), F.lit(1 << _WINNOW_POS_BITS))).alias("pos"),
            F.shiftright(F.col("wmin"), _WINNOW_POS_BITS).alias("fp"),
        )
        .distinct()
    )
    return sel.select(
        F.col("id").alias("doc_id"),
        F.col("pos").cast("long").alias("pos"),
        F.col("fp").cast("long").alias("fp"),
    )


def gram_novelty(
    df: DataFrame,
    k: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, n_novel, novelty_pm): per-document share of
    k-gram windows whose hash occurs nowhere else in the corpus — the
    corpus-level novelty signal behind duplication-fraction quality
    gates (the inverse view of Lee et al.'s duplicated-span mass:
    boilerplate-heavy documents score low, original text scores high).
    ``novelty_pm`` is integer per-mille so the value hashes exactly in
    an external engine.  Documents shorter than k tokens emit no row.

    Scale: the same single gram projection substring dedup pays, one
    count window partitioned by the gram hash (map-side-combinable
    shuffle), one per-doc aggregate — no joins."""
    g = gram_positions(df, k, id_col, text_col)
    cnt = F.count("*").over(Window.partitionBy("gh"))
    per = (
        g.withColumn("cnt", cnt)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return per.select(
        F.col("id").alias("doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        # integer division: no fp anywhere, so the value is engine-exact
        F.expr("(n_novel * 1000) div n_grams").cast("long").alias("novelty_pm"),
    )
