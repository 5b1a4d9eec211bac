"""Retrieval-quality metrics suite.

Same metric family as the reference (src/evaluation/metrics.py:4-262):
recall@k, precision@k, MAP@k, NDCG@k (binary relevance), hit_rate@k,
MRR, latency stats — re-expressed as per-query list folds over
DataFrames (one groupBy per side collects each query's ranked lists,
every cutoff's metrics fold over them) instead of per-query Python
loops (reference loops per query; here every metric is a distributed
aggregation, so the pass scales with cluster size).

Input contract: ``pred`` and ``gt`` are exploded ranked results,
DataFrame(qid, id, rank) with rank 1-based ascending (the output shape
of ``operators.exact.exact_knn`` / any searcher in this engine).

Definitions (binary relevance) follow the reference exactly
(src/benchmark/metrics.py): **only recall truncates the ground-truth
set to rank <= k**; precision, MAP, NDCG, hit_rate and MRR judge the
top-k predictions against the FULL ground-truth set (gt_set =
set(ground_truth[i]) in the reference), so with a deep GT the non-recall
metrics at small k are comparable across frameworks:
- recall@k    = |gt_k ∩ pred_k| / |gt_k|            (gt_k = gt rank <= k)
- precision@k = |gt_full ∩ pred_k| / k
- AP@k        = Σ_{i∈full hits} (cum_hits(i)/i) / |gt_full|   (MAP = mean)
- DCG@k       = Σ_{i∈full hits} 1/log2(i+1);
  IDCG@k      = Σ_{i=1..min(|gt_full|,k)} 1/log2(i+1)
- hit_rate@k  = mean(1 if any full hit in pred_k else 0)
- MRR         = mean(1/first_full_hit_rank, else 0)

Queries with no predicted rows still count (as zeros) — the per-query
frame is right-anchored on the ground-truth query set, matching the
reference's fixed-shape result arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def retrieval_metrics(pred: DataFrame, gt: DataFrame, k: int) -> DataFrame:
    """One-row DataFrame: k, n_queries, recall, precision, map, ndcg,
    hit_rate, mrr (means over the ground-truth query set) — the
    single-cutoff ``retrieval_metrics_multi``."""
    return retrieval_metrics_multi(pred, gt, [k])


def retrieval_metrics_multi(pred: DataFrame, gt: DataFrame, ks: list[int]) -> DataFrame:
    """Multi-k evaluation sweep (reference: evaluation.py:13-66 merges
    k ∈ {1,10,100} ∪ configured): one metrics row per cutoff.

    Single pass: the ranked rows are exploded over the cutoff list and
    every metric aggregates by (k, qid) — the expensive upstream plans
    (usually exact-kNN crossJoins) execute once for ALL cutoffs, not
    once per cutoff as a per-k union would.

    Precondition: ``(qid, id)`` is unique in ``gt`` (and in ``pred``),
    as every ranked result this engine emits is.  A duplicated gt id
    counts twice in the gt set sizes; its matched rank is the lowest
    of its ranks."""
    ks = sorted({int(k) for k in ks})
    kmax = ks[-1]
    # r14 (guide §2.4): the per-(k, qid) work is candidate-bounded
    # (≤ kmax pred rows and one GT set per query), so the whole tail —
    # pred×gt (qid, id) join, cutoff explode, (k, qid) window, (k, qid)
    # groupBy, gt-sizes join — collapses into per-qid LIST FOLDS: one
    # groupBy per side collects the ranked lists, a left join anchors
    # the GT query set, and every per-cutoff metric is a higher-order
    # fold over those tiny arrays.  The r13 shape carried 12 Exchange
    # references; this one has one exchange per collect + the final
    # per-k aggregate.  Arithmetic is identical: the fold accumulates
    # ap/dcg terms in rank order — the same order the window fed the
    # old hash aggregate — and every per-row flag (hit, hit_k, cum) is
    # the same expression over the same matched gt row.
    p = pred.filter(F.col("rank") <= kmax).select("qid", "id", "rank")
    # gt is NOT truncated at k: non-recall metrics judge against the full
    # GT set (reference semantics); the member rank carries truncation
    g = gt.select("qid", "id", F.col("rank").alias("gt_rank"))
    pl = p.groupBy("qid").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("rank"), F.col("id")))
        ).alias("pl")
    )
    # sorted like pl: the fold reads a pred id's FIRST gt match, so an
    # id listed twice must resolve to its lowest rank, not to whichever
    # row the shuffle delivered first
    gl = g.groupBy("qid").agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("gt_rank").alias("rank"), F.col("id"))
            )
        ).alias("gl")
    )
    # right-anchored on the ground-truth query set: queries with no
    # predicted rows still count as zeros (the coalesces below)
    joined = gl.join(pl, "qid", "left")
    return _metrics_from_lists(joined, ks, kmax)


def retrieval_metrics_multi_labeled(
    ranked: DataFrame,
    ks: list[int],
    pred_which: int = 1,
    gt_which: int = 0,
) -> DataFrame:
    """``retrieval_metrics_multi`` over a LABELED ranked frame —
    DataFrame(which, qid, id, rank) where ``which`` distinguishes the
    predicted ranking from the ground truth (the fused pred/gt kernel's
    output shape, driver_queries/metricsq.pred_gt).  Identical result to
    ``retrieval_metrics_multi(ranked[which=pred], ranked[which=gt], ks)``
    but ONE groupBy collects both per-query lists — no pred×gt join, no
    second aggregate over the shared frame (guide §2.4)."""
    ks = sorted({int(k) for k in ks})
    kmax = ks[-1]
    lists = (
        ranked.groupBy("qid")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        (F.col("which") == pred_which)
                        & (F.col("rank") <= kmax),
                        F.struct(F.col("rank"), F.col("id")),
                    )
                )
            ).alias("pl"),
            # sorted for the same first-gt-match rule as the generic path
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("which") == gt_which,
                        F.struct(F.col("rank"), F.col("id")),
                    )
                )
            ).alias("gl"),
        )
        # right-anchored on the ground-truth query set, like the
        # generic path's gt-side join anchor
        .filter(F.size("gl") > 0)
    )
    return _metrics_from_lists(lists, ks, kmax)


def _metrics_from_lists(
    joined: DataFrame, ks: list[int], kmax: int
) -> DataFrame:
    """Per-cutoff metric rows from per-query ranked LISTS — the shared
    tail of ``retrieval_metrics_multi`` / ``..._labeled``.  ``joined``
    carries (qid, pl, gl): pl = rank-ascending predicted (rank, id)
    structs truncated at kmax (null or empty when the query predicted
    nothing), gl = the full rank-ascending ground-truth (rank, id) set.

    Every per-(k, qid) quantity is a higher-order fold over those tiny
    candidate-bounded arrays, so the whole tail is one projection —
    the r13 shape's explode + (k, qid) window + (k, qid) groupBy +
    gt-sizes join (12 Exchange references) collapses to the list
    aggregates plus the final per-k mean.  The fold accumulates ap/dcg
    terms in rank order — the same order the old window fed its hash
    aggregate — and every flag (hit, hit_k, cum_hits) is the same
    expression over the same matched gt row, so the values are
    unchanged."""
    # The HOF expressions below are single SQL ``F.expr`` strings, not
    # nested Column-API calls: each Column operation is a py4j round
    # trip, and the fold tree built via the API measured ~0.4 s of
    # pure driver-side construction/analysis per invocation — more than
    # the execution win (§1.1's "fresh ideal plan is slower at first"
    # gotcha).  One expr string = one py4j call, parsed JVM-side.
    #
    # per-pred-item match flags, computed ONCE per qid (k-independent):
    # hit = id ∈ gt set; gtr = that gt member's rank (kmax+1 sentinel
    # when absent — ``get()`` not ``[0]`` so the empty no-match array
    # yields null, not an ANSI index error — so ``gtr <= k`` reproduces
    # ``gt_rank <= k`` exactly)
    ml = F.expr(
        "transform(coalesce(pl, array()), e -> struct("
        "  e.rank as rank,"
        "  cast(exists(gl, x -> x.id = e.id) as int) as hit,"
        f" coalesce(get(filter(gl, x -> x.id = e.id), 0).rank, {kmax + 1})"
        "    as gtr))"
    )
    marked = joined.select(
        "qid", F.expr("size(gl)").alias("n_gt"), ml.alias("ml"), "gl"
    )

    def _fold(k: int):
        # rank-ordered fold of the ≤ k marked pred items: running
        # cum_hits, hits-in-truncated-gt, AP and DCG partials, first hit
        return F.expr(
            f"aggregate(filter(ml, e -> e.rank <= {k}),"
            " struct(0 as cum, 0 as nk, cast(0 as double) as ap,"
            "        cast(0 as double) as dcg, 0 as first),"
            " (a, e) -> struct("
            "   a.cum + e.hit as cum,"
            f"  a.nk + if(e.hit = 1 and e.gtr <= {k}, 1, 0) as nk,"
            "   a.ap + if(e.hit = 1,"
            "             cast(a.cum + e.hit as double) / e.rank,"
            "             cast(0 as double)) as ap,"
            "   a.dcg + if(e.hit = 1,"
            "              cast(1 as double) / log2(e.rank + 1),"
            "              cast(0 as double)) as dcg,"
            "   if(a.first = 0 and e.hit = 1, e.rank, a.first) as first))"
        )

    # fold ONCE per cutoff into a named column; the metric projection
    # then reads fields off it (referencing the fold expression from
    # every metric would re-evaluate it per field)
    folded = marked.select(
        "qid",
        "n_gt",
        "gl",
        *[_fold(k).alias(f"_a{k}") for k in ks],
    )

    def _metrics_struct(k: int):
        return F.expr(
            "struct("
            f" {k} as k,"
            f" coalesce(_a{k}.nk, 0)"
            f"   / size(filter(gl, x -> x.rank <= {k})) as recall,"
            f" coalesce(_a{k}.cum, 0) / cast({k} as double) as precision,"
            f" coalesce(_a{k}.ap, cast(0 as double)) / n_gt as ap,"
            f" coalesce(_a{k}.dcg, cast(0 as double))"
            "    / aggregate(sequence(1, least(n_gt, "
            f"{k})), cast(0 as double),"
            "       (acc, i) -> acc + cast(1 as double)"
            "                         / log2(cast(i as double) + 1)) as ndcg,"
            f" cast(coalesce(_a{k}.cum, 0) > 0 as double) as any_hit,"
            f" if(_a{k}.first > 0,"
            f"    cast(1 as double) / _a{k}.first,"
            "     cast(0 as double)) as rr)"
        )

    perq = folded.select(
        "qid",
        F.explode(F.array(*[_metrics_struct(k) for k in ks])).alias("m"),
    ).select("qid", "m.*")

    def mean(col: str):
        # the mean of per-query ratios, summed exactly: each double is
        # rounded once to 18 decimals, and decimal addition does not
        # depend on the order partitions arrive in, so the same rows give
        # bit-equal means under any physical plan
        return F.avg(F.col(col).cast("decimal(38,18)")).cast("double")

    return (
        perq.groupBy("k")
        .agg(
            F.count("*").alias("n_queries"),
            mean("recall").alias("recall"),
            mean("precision").alias("precision"),
            mean("ap").alias("map"),
            mean("ndcg").alias("ndcg"),
            mean("any_hit").alias("hit_rate"),
            mean("rr").alias("mrr"),
        )
        .orderBy("k")
    )


def serving_latency_stats(
    timings: DataFrame,
    wall_col: str = "wall_s",
    n_col: str = "n_queries",
    group_cols: tuple[str, ...] = ("algorithm",),
) -> DataFrame:
    """Per-query latency distribution from RECORDED batch-serving
    timings, per the reference's wall-clock-divided-batch methodology
    (experiment_runner.py:434-437: ``query_times[cursor:end] =
    elapsed / batch_size``; percentile arithmetic metrics.py:222-234):
    each recorded repeat of an ``n_queries``-row serving batch
    contributes ``n_queries`` per-query latencies of ``wall / n``, and
    mean / p50 / p95 / p99 / min / max (ms) are computed over the
    concatenated distribution — plus ``qps`` = total queries served /
    total wall, the reference's ``len(queries)/total_query_time``.

    The explode keeps the arithmetic identical to the reference's
    flat ``query_times`` array (and to a SQL twin via
    ``unnest(generate_series(...))``) rather than hand-weighting
    percentiles; at catalogue scale it is thousands of rows."""
    g = [F.col(c) for c in group_cols]
    per = timings.select(
        *group_cols,
        F.col(wall_col).cast("double").alias("_w"),
        F.col(n_col).cast("long").alias("_n"),
    ).select(
        *group_cols,
        F.col("_w"),
        F.col("_n"),
        F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_i"),
    ).select(
        *group_cols,
        (F.col("_w") * 1000.0 / F.col("_n")).alias("_t_ms"),
    )
    c = F.col("_t_ms")
    return (
        per.groupBy(*g)
        .agg(
            F.count(c).alias("n"),
            F.round(F.avg(c), 6).alias("mean_ms"),
            F.round(F.expr("percentile(_t_ms, 0.5)"), 6).alias("p50_ms"),
            F.round(F.expr("percentile(_t_ms, 0.95)"), 6).alias("p95_ms"),
            F.round(F.expr("percentile(_t_ms, 0.99)"), 6).alias("p99_ms"),
            F.round(F.min(c), 6).alias("min_ms"),
            F.round(F.max(c), 6).alias("max_ms"),
            # Σ t_ms over the exploded rows = 1000 × Σ rep walls, so
            # count / (Σ t_ms / 1000) = total queries / total wall —
            # the reference's len(queries)/total_query_time
            F.round(F.count(c) / (F.sum(c) / 1000.0), 6).alias("qps"),
        )
        .orderBy(*g)
    )


def ranking_spearman(pred_a: DataFrame, pred_b: DataFrame, k: int) -> DataFrame:
    """Per-query Spearman rank correlation between two top-k rankings —
    the ranking-agreement diagnostic for comparing two retrievers (e.g.
    an ANN config against exact ground truth, or lexical vs dense):
    DataFrame(qid, n, rho), one row per query, ordered by qid.

    Truncated-list convention: ranks come from each ranking's top-k;
    the union of retrieved ids is scored and an id absent from one
    list takes the sentinel rank k+1 (ties allowed in the sentinel
    only).  rho is the PEARSON correlation of the assigned rank
    vectors — identical to the classic 1 − 6·Σd²/(n(n²−1)) whenever
    both vectors are tie-free permutations, and (unlike that formula,
    which escapes [−1, 1] under sentinel ties) correctly bounded when
    they are not.  Identical lists ⇒ 1.0; disjoint ⇒ strongly
    negative.  Degenerate queries — n ≤ 1, or one ranking empty so a
    rank vector is constant — report 0.0 (no agreement signal)."""
    a = pred_a.filter(F.col("rank") <= k).select(
        "qid", "id", F.col("rank").cast("long").alias("rank_a")
    )
    b = pred_b.filter(F.col("rank") <= k).select(
        "qid", "id", F.col("rank").cast("long").alias("rank_b")
    )
    j = a.join(b, ["qid", "id"], "full_outer").select(
        "qid",
        F.coalesce("rank_a", F.lit(k + 1)).cast("double").alias("ra"),
        F.coalesce("rank_b", F.lit(k + 1)).cast("double").alias("rb"),
    )
    per = j.groupBy("qid").agg(
        F.count("*").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sab") - F.col("sa") * F.col("sb")
    var_a = n * F.col("saa") - F.col("sa") * F.col("sa")
    var_b = n * F.col("sbb") - F.col("sb") * F.col("sb")
    return per.select(
        "qid",
        "n",
        F.round(
            F.when(
                (F.col("n") > 1) & (var_a > 0) & (var_b > 0),
                cov / F.sqrt(var_a * var_b),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("rho"),
    ).orderBy("qid")


def serving_welch_t_frame(
    timings: DataFrame,
    wall_col: str = "wall_s",
    algo_col: str = "algorithm",
) -> DataFrame:
    """Pairwise Welch unequal-variance t statistic + Welch-Satterthwaite
    dof between algorithms' recorded serving walls — the distributed
    form of ``sweep.welch_t`` (reference: scripts/compare_algorithms.py
    leans on scipy.stats.ttest_ind(equal_var=False)).  The p-value
    needs the regularized incomplete beta (sweep.welch_t / the
    one-pager carry it); (t, dof) is the SQL-reproducible arithmetic,
    so that is what the hash-checked frame exposes."""
    w = F.col(wall_col).cast("double")
    s = timings.groupBy(algo_col).agg(
        F.count(w).alias("n"),
        F.avg(w).alias("m"),
        F.var_samp(w).alias("v"),
    )
    a = s.select(
        F.col(algo_col).alias("algorithm_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = s.select(
        F.col(algo_col).alias("algorithm_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    dof = (se2 * se2) / (
        (F.col("v_a") / F.col("n_a")) ** 2 / (F.col("n_a") - 1)
        + (F.col("v_b") / F.col("n_b")) ** 2 / (F.col("n_b") - 1)
    )
    return (
        a.join(b, F.col("algorithm_a") < F.col("algorithm_b"))
        .select(
            "algorithm_a",
            "algorithm_b",
            "n_a",
            "n_b",
            F.round("m_a", 6).alias("mean_a_s"),
            F.round("m_b", 6).alias("mean_b_s"),
            F.round(
                (F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 6
            ).alias("t_stat"),
            F.round(dof, 6).alias("dof"),
        )
        .orderBy("algorithm_a", "algorithm_b")
    )


def latency_stats(times: DataFrame, col: str = "t") -> DataFrame:
    """Latency statistics (reference: metrics.py:212-237): mean, median,
    p95, p99, min, max — exact percentiles with linear interpolation so
    a DuckDB ``quantile_cont`` oracle agrees."""
    c = F.col(col).cast("double")
    return times.agg(
        F.count(c).alias("n"),
        F.avg(c).alias("mean"),
        F.expr(f"percentile({col}, 0.5)").alias("p50"),
        F.expr(f"percentile({col}, 0.95)").alias("p95"),
        F.expr(f"percentile({col}, 0.99)").alias("p99"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
    )
