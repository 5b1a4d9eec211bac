"""Exact-kNN driver queries (L2 / cosine / IP)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_retrieval_spark.driver_queries.common import K, emb, emb_queries
from vectordb_retrieval_spark.operators.exact import exact_knn, exact_range_search

RADIUS = 1.15  # ~0.5 % pair selectivity on the embeddings table


def knn_query(spark: SparkSession, sf_dir: str, metric: str) -> DataFrame:
    base = emb(spark, sf_dir)
    queries = emb_queries(spark, sf_dir)
    res = exact_knn(
        base, queries, K, metric, id_col="vec_id", vec_col="embedding", qid_col="vec_id"
    )
    return res.select("qid", "id", "rank")


def range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS range_search semantics: every (query, neighbor) pair within
    RADIUS, value-hash-checked including the distances."""
    base = emb(spark, sf_dir)
    queries = emb_queries(spark, sf_dir)
    res = exact_range_search(
        base,
        queries,
        RADIUS,
        "l2",
        id_col="vec_id",
        vec_col="embedding",
        qid_col="vec_id",
    )
    return res.select("qid", "id", F.round("dist", 6).alias("dist"))


KNN_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
d AS (
  SELECT q.qid, b.vec_id AS id, {dist_expr} AS dist
  FROM q CROSS JOIN embeddings b
),
r AS (
  SELECT qid, id,
         row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
  FROM d
)
SELECT qid, id, rank FROM r WHERE rank <= 10
"""

DIST_EXPRS = {
    "l2": "list_distance(q.qv, CAST(b.embedding AS DOUBLE[]))",
    "cosine": "1.0 - list_cosine_similarity(q.qv, CAST(b.embedding AS DOUBLE[]))",
    "ip": "-list_dot_product(q.qv, CAST(b.embedding AS DOUBLE[]))",
}

RANGE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
d AS (
  SELECT q.qid, b.vec_id AS id,
         list_distance(q.qv, CAST(b.embedding AS DOUBLE[])) AS dist
  FROM q CROSS JOIN embeddings b
)
SELECT qid, id, round(dist, 6) AS dist FROM d WHERE dist <= {RADIUS}
"""

QUERIES = {
    "knn_exact_l2": lambda spark, sf: knn_query(spark, sf, "l2"),
    "knn_exact_cosine": lambda spark, sf: knn_query(spark, sf, "cosine"),
    "knn_exact_ip": lambda spark, sf: knn_query(spark, sf, "ip"),
    "range_search_l2": range_query,
}

ORACLES = {
    "knn_exact_l2": KNN_ORACLE.format(dist_expr=DIST_EXPRS["l2"]),
    "knn_exact_cosine": KNN_ORACLE.format(dist_expr=DIST_EXPRS["cosine"]),
    "knn_exact_ip": KNN_ORACLE.format(dist_expr=DIST_EXPRS["ip"]),
    "range_search_l2": RANGE_ORACLE,
}
