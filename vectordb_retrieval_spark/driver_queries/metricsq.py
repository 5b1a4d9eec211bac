"""Retrieval-metric driver queries: pred = truncated-vector L2 searcher,
gt = exact L2 — both deterministic and SQL-reproducible."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_retrieval_spark.driver_queries.common import (
    K,
    emb,
    emb_queries,
    events,
    read_parquet_cached_schema,
    round6,
)
from vectordb_retrieval_spark.metrics import (
    latency_stats,
    retrieval_metrics,
    retrieval_metrics_multi,
    retrieval_metrics_multi_labeled,
)
from vectordb_retrieval_spark.operators.exact import exact_knn


TRUNC_DIM = 8


def pred_gt(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ranked, pred, gt = _pred_gt_labeled(spark, sf_dir)
    return pred, gt


def _pred_gt_labeled(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame | None, DataFrame, DataFrame]:
    """Both rankings — gt = exact L2 top-K on the full vectors, pred =
    exact L2 top-K on the first TRUNC_DIM dims — from ONE base-table
    kernel pass (r13 optimization).

    The previous shape ran two independent ``exact_knn`` plans, so the
    base table was scanned twice, the query batch collected twice, and
    two separate candidate windows shuffled.  Here one
    ``serving.partition_driven_job`` scores each Arrow batch against the
    broadcast queries with BOTH distance views (the truncated view
    slices the same float32 matrices, so values are bit-identical to
    scoring a materialized trunc column): view v of query row r is the
    job's query row v·n + r, labeled qid 2·qid + v, so one merge ranks
    both views.  pred and gt are two filters of that one ranked frame."""
    import numpy as np

    from vectordb_retrieval_spark.functions.distance import (
        pairwise_distances,
    )
    from vectordb_retrieval_spark.functions.kernels import (
        query_broadcast_cached,
    )
    from vectordb_retrieval_spark.operators.exact import (
        SCORE_TILE_ELEMS,
        base_batch,
        block_topk,
    )
    from vectordb_retrieval_spark.operators.serving import (
        partition_driven_job,
    )

    base = emb(spark, sf_dir)
    qs = emb_queries(spark, sf_dir)
    bc = query_broadcast_cached(qs, "vec_id", "embedding")
    if bc is None:  # past-gate query frame: fall back to the 2-plan form
        trunc = base.withColumn("trunc", F.slice("embedding", 1, TRUNC_DIM))
        qtrunc = qs.withColumn("trunc", F.slice("embedding", 1, TRUNC_DIM))
        pred = exact_knn(
            trunc, qtrunc, K, "l2",
            id_col="vec_id", vec_col="trunc", qid_col="vec_id",
        )
        gt = exact_knn(
            base, qs, K, "l2",
            id_col="vec_id", vec_col="embedding", qid_col="vec_id",
        )
        return None, pred, gt
    q_ids, q_mat = bc.value
    labeled = spark.sparkContext.broadcast(
        (np.concatenate([2 * q_ids, 2 * q_ids + 1]), q_mat)
    )
    k, tile_elems, td, n = K, SCORE_TILE_ELEMS, TRUNC_DIM, len(q_ids)

    def unit(rb, qm, _route):
        # view 0 = full vectors (gt), view 1 = first td dims (pred)
        ids, block = base_batch(rb)
        out = []
        for which, dims in ((0, None), (1, td)):
            bd, bi = block_topk(
                qm[:, :dims],
                block[:, :dims],
                ids,
                k,
                pairwise_distances,  # default metric: l2
                tile_elems,
            )
            rows = which * n + np.arange(n)
            out.append((np.repeat(rows, bd.shape[1]), bi.ravel(), bd.ravel()))
        return tuple(np.concatenate(col) for col in zip(*out))

    ranked = (
        partition_driven_job(
            base.select("vec_id", "embedding"), labeled, None, unit, k
        )
        .select(
            F.col("qid").bitwiseAND(1).cast("int").alias("which"),
            F.shiftright("qid", 1).alias("qid"),
            "id",
            "dist",
            "rank",
        )
        # pin the shared subtree: the metric consumers reference the
        # ranked frame three times (pred, gt-sizes, gt-join) and
        # runtime exchange reuse does not fire across these branches
        # (verified on the final adaptive plan), so without the pin the
        # scan + kernel + merge executed three times.  localCheckpoint
        # materializes ≤ 2·K·n_queries rows once per invocation —
        # recomputed from parquet on every run, same convention as
        # text_retrieval.global_rank (lost blocks fail loudly rather
        # than silently recompute).
        .localCheckpoint(eager=True)
    )
    pred = ranked.filter(F.col("which") == 1).drop("which")
    gt = ranked.filter(F.col("which") == 0).drop("which")
    return ranked, pred, gt


def metrics_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # labeled fast path (r14): both per-query lists off the pinned
    # ranked frame in ONE groupBy — no pred×gt join; values identical
    # (retrieval_metrics ≡ the k-sweep at a single cutoff)
    ranked, pred, gt = _pred_gt_labeled(spark, sf_dir)
    if ranked is not None:
        return round6(retrieval_metrics_multi_labeled(ranked, [K]))
    return round6(retrieval_metrics(pred, gt, K))


def metrics_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked, pred, gt = _pred_gt_labeled(spark, sf_dir)
    if ranked is not None:
        return round6(retrieval_metrics_multi_labeled(ranked, [1, 5, 10]))
    return round6(retrieval_metrics_multi(pred, gt, [1, 5, 10]))


def latency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir).select(F.col("value").alias("t"))
    return round6(latency_stats(ev, "t"))


# Reference semantics (src/benchmark/metrics.py): only recall truncates
# the GT set at k; precision/MAP/NDCG/hit_rate/MRR mark the top-k
# predictions against the FULL (depth = gt_depth) GT set.
METRICS_CTE = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
dl AS (
  SELECT q.qid, b.vec_id AS id,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_distance(q.qv, CAST(b.embedding AS DOUBLE[])), b.vec_id
         ) AS rank
  FROM q CROSS JOIN embeddings b
),
gt AS (SELECT qid, id, rank AS gt_rank FROM dl WHERE rank <= {gt_depth}),
dp AS (
  SELECT q.qid, b.vec_id AS id,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_distance(q.qv[1:8], CAST(b.embedding AS DOUBLE[])[1:8]),
                    b.vec_id
         ) AS rank
  FROM q CROSS JOIN embeddings b
),
pred AS (SELECT qid, id, rank FROM dp WHERE rank <= {k}),
sizes AS (
  SELECT qid, count(*) AS n_gt,
         sum(CASE WHEN gt_rank <= {k} THEN 1 ELSE 0 END) AS n_gt_k
  FROM gt GROUP BY qid
),
marked AS (
  SELECT p.qid, p.rank,
         CASE WHEN g.id IS NOT NULL THEN 1 ELSE 0 END AS hit,
         CASE WHEN g.gt_rank <= {k} THEN 1 ELSE 0 END AS hit_k
  FROM pred p LEFT JOIN gt g ON p.qid = g.qid AND p.id = g.id
),
scored AS (
  SELECT qid, hit, hit_k, rank,
         sum(hit) OVER (PARTITION BY qid ORDER BY rank) AS cum
  FROM marked
),
perq_raw AS (
  SELECT qid,
         sum(hit) AS n_hit,
         sum(hit_k) AS n_hit_k,
         sum(hit * cum * 1.0 / rank) AS ap_sum,
         sum(hit * 1.0 / log2(rank + 1)) AS dcg,
         min(CASE WHEN hit = 1 THEN rank END) AS first_hit
  FROM scored GROUP BY qid
),
perq AS (
  SELECT s.qid,
         coalesce(p.n_hit_k, 0) * 1.0 / s.n_gt_k AS recall,
         coalesce(p.n_hit, 0) * 1.0 / {k} AS precision,
         coalesce(p.ap_sum, 0) / s.n_gt AS ap,
         coalesce(p.dcg, 0)
           / list_sum(list_transform(generate_series(1, least(s.n_gt, {k})),
                                     i -> 1.0 / log2(i + 1))) AS ndcg,
         CASE WHEN coalesce(p.n_hit, 0) > 0 THEN 1.0 ELSE 0.0 END AS any_hit,
         coalesce(1.0 / p.first_hit, 0.0) AS rr
  FROM sizes s LEFT JOIN perq_raw p ON s.qid = p.qid
)
SELECT CAST({k} AS BIGINT) AS k,
       count(*) AS n_queries,
       round(avg(recall), 6) AS recall,
       round(avg(precision), 6) AS precision,
       round(avg(ap), 6) AS map,
       round(avg(ndcg), 6) AS ndcg,
       round(avg(any_hit), 6) AS hit_rate,
       round(avg(rr), 6) AS mrr
FROM perq
"""

LATENCY_ORACLE = """
SELECT count(*) AS n,
       round(avg(value), 6) AS mean,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       round(min(value), 6) AS min,
       round(max(value), 6) AS max
FROM events
"""

# Committed recording of a REAL timed serving run (written by
# scripts/record_serving_latency.py: exact + IVF-SQ8 over the
# reference-matched random 20k x 64-d workload, 2048-query batch,
# R warm repeats, wall-clock per repeat).  The catalogue slot derives
# the per-query latency distribution from it with engine arithmetic
# (reference wall-clock-divided-batch semantics,
# experiment_runner.py:434-437 + metrics.py:222-234) and the oracle
# re-derives it from the SAME file — the timings stay honest
# measurements while the stats arithmetic is hash-checked.
# repo-root-relative (advisor r12: the absolute literal was the only
# absolute path in the package and broke any checkout not at /root/repo)
import os as _os

TIMINGS_PATH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "bench_artifacts",
    "serving_latency_timings.parquet",
)


def serving_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordb_retrieval_spark.metrics import serving_latency_stats

    return serving_latency_stats(read_parquet_cached_schema(spark, TIMINGS_PATH))


SERVING_LATENCY_ORACLE = f"""
WITH t AS (SELECT * FROM read_parquet('{TIMINGS_PATH}')),
per AS (
  SELECT t.algorithm, t.wall_s * 1000.0 / t.n_queries AS t_ms
  FROM t, unnest(generate_series(1, t.n_queries)) AS u(i)
)
SELECT algorithm,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(t_ms), 6) AS mean_ms,
       round(quantile_cont(t_ms, 0.5), 6) AS p50_ms,
       round(quantile_cont(t_ms, 0.95), 6) AS p95_ms,
       round(quantile_cont(t_ms, 0.99), 6) AS p99_ms,
       round(min(t_ms), 6) AS min_ms,
       round(max(t_ms), 6) AS max_ms,
       round(count(*) / (sum(t_ms) / 1000.0), 6) AS qps
FROM per GROUP BY algorithm ORDER BY algorithm
"""

def serving_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vectordb_retrieval_spark.metrics import serving_welch_t_frame

    return serving_welch_t_frame(read_parquet_cached_schema(spark, TIMINGS_PATH))


SERVING_WELCH_ORACLE = f"""
WITH s AS (
  SELECT algorithm, CAST(count(*) AS BIGINT) AS n,
         avg(wall_s) AS m, var_samp(wall_s) AS v
  FROM read_parquet('{TIMINGS_PATH}') GROUP BY algorithm
)
SELECT a.algorithm AS algorithm_a, b.algorithm AS algorithm_b,
       a.n AS n_a, b.n AS n_b,
       round(a.m, 6) AS mean_a_s, round(b.m, 6) AS mean_b_s,
       round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
       round(pow(a.v / a.n + b.v / b.n, 2)
             / (pow(a.v / a.n, 2) / (a.n - 1)
                + pow(b.v / b.n, 2) / (b.n - 1)), 6) AS dof
FROM s a JOIN s b ON a.algorithm < b.algorithm
ORDER BY algorithm_a, algorithm_b
"""

def rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query Spearman rho between the truncated-vector retriever's
    top-K and the exact top-K — the ranking-agreement diagnostic over
    the same pred/gt pair the metric slots grade."""
    from vectordb_retrieval_spark.metrics import ranking_spearman

    pred, gt = pred_gt(spark, sf_dir)
    return ranking_spearman(pred, gt, K)


RANK_CORR_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
dl AS (
  SELECT q.qid, b.vec_id AS id,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_distance(q.qv, CAST(b.embedding AS DOUBLE[])), b.vec_id
         ) AS rank
  FROM q CROSS JOIN embeddings b
),
dp AS (
  SELECT q.qid, b.vec_id AS id,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_distance(q.qv[1:8], CAST(b.embedding AS DOUBLE[])[1:8]),
                    b.vec_id
         ) AS rank
  FROM q CROSS JOIN embeddings b
),
a AS (SELECT qid, id, rank FROM dp WHERE rank <= {K}),
g AS (SELECT qid, id, rank FROM dl WHERE rank <= {K}),
u AS (
  SELECT coalesce(a.qid, g.qid) AS qid,
         CAST(coalesce(a.rank, {K} + 1) AS DOUBLE) AS ra,
         CAST(coalesce(g.rank, {K} + 1) AS DOUBLE) AS rb
  FROM a FULL OUTER JOIN g ON a.qid = g.qid AND a.id = g.id
),
per AS (
  SELECT qid, CAST(count(*) AS BIGINT) AS n,
         sum(ra) AS sa, sum(rb) AS sb,
         sum(ra * ra) AS saa, sum(rb * rb) AS sbb,
         sum(ra * rb) AS sab
  FROM u GROUP BY qid
)
SELECT qid, n,
       round(CASE WHEN n > 1
                   AND n * saa - sa * sa > 0
                   AND n * sbb - sb * sb > 0
                  THEN (n * sab - sa * sb)
                       / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
                  ELSE 0.0 END, 6) AS rho
FROM per ORDER BY qid
"""

QUERIES = {
    "retrieval_metrics_at_10": metrics_at_10,
    "retrieval_metrics_sweep": metrics_sweep,
    "latency_stats_events": latency_events,
    "serving_latency_stats": serving_latency,
    "serving_welch_ttest": serving_welch,
    "eval_rank_correlation": rank_correlation,
}

ORACLES = {
    "retrieval_metrics_at_10": METRICS_CTE.format(k=10, gt_depth=K),
    "retrieval_metrics_sweep": " UNION ALL ".join(
        f"({METRICS_CTE.format(k=k, gt_depth=K)})" for k in (1, 5, 10)
    ),
    "latency_stats_events": LATENCY_ORACLE,
    "serving_latency_stats": SERVING_LATENCY_ORACLE,
    "serving_welch_ttest": SERVING_WELCH_ORACLE,
    "eval_rank_correlation": RANK_CORR_ORACLE,
}
