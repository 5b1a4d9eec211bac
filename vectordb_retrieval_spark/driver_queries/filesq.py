"""Driver queries for the file-format sources and index persistence.

Each query round-trips real engine I/O through a /tmp fixture written
from the sf_dir ``embeddings`` table, so the driver's DuckDB oracle can
recompute the expected content directly from the same table:

- fvecs/ivecs: distributed ``write_vecs`` export → ``read_vecs``
  (binaryFile + Arrow kernel) — positional ids equal the rank by
  ``vec_id`` because shards are range-partitioned (reference layout:
  dataset.py:522-574).
- GloVe text: ``write_glove`` (shortest-repr floats, bit-exact through
  the string→float cast) → ``read_glove`` (dataset.py:611-663).
- .npy: driver-side fixture write (the format itself is a single-file
  driver-side artifact; the distributed half is ``read_npy_vectors``'s
  memmap-per-task scan, dataset.py:1034-1037 limit semantics).
- persistence: FixedCentroid IVF build → ``save_artifact`` (manifest +
  sentinel + fingerprint, covertree_v2_2.py:184-282 validation parity)
  → ``load_artifact`` → search; hash-matches the same oracle as the
  fresh-index ``ivf_fixed_search``.

All float comparisons ride on exact float32→float64 widening (first and
last vector components), never on cross-engine float summation.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_retrieval_spark.driver_queries import ann
from vectordb_retrieval_spark.driver_queries.common import (
    K,
    emb,
    emb_queries,
    read_parquet_cached_schema,
)
from vectordb_retrieval_spark.operators.ivf import FixedCentroidIVFIndexer, IVFSearcher
from vectordb_retrieval_spark.persistence import (
    artifact_size_bytes,
    config_fingerprint,
    load_artifact,
    save_artifact,
)
from vectordb_retrieval_spark.sources.glove import read_glove, write_glove
from vectordb_retrieval_spark.sources.npy_loader import read_npy_vectors
from vectordb_retrieval_spark.sources.vec_files import read_vecs, write_vecs
from vectordb_retrieval_spark.sources.vector_schema import load_vector_table

NPY_LIMIT = 100
_FIXTURE_ROOT = "/tmp/vr_spark_fixtures"


def _fixture_dir(name: str, sf_dir: str) -> str:
    """Fresh per-process fixture path keyed by scale factor (queries run
    serially within one driver process; stale content is removed).
    Sibling pid directories left by earlier driver processes are swept
    on first use so repeated gate runs don't grow /tmp without bound."""
    pid = str(os.getpid())
    if os.path.isdir(_FIXTURE_ROOT):
        for stale in os.listdir(_FIXTURE_ROOT):
            if stale != pid:
                shutil.rmtree(
                    os.path.join(_FIXTURE_ROOT, stale), ignore_errors=True
                )
    tag = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(_FIXTURE_ROOT, pid, f"{name}-{tag}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def _endpoints(df: DataFrame, id_expr, vec_col: str = "vec") -> DataFrame:
    return df.select(
        id_expr,
        F.size(vec_col).alias("dim"),
        F.element_at(vec_col, 1).cast("double").alias("v_first"),
        F.element_at(vec_col, -1).cast("double").alias("v_last"),
    )


def q_fvecs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fixture_dir("fvecs", sf_dir)
    write_vecs(
        emb(spark, sf_dir), d, "fvecs", id_col="vec_id", vec_col="embedding"
    )
    return _endpoints(read_vecs(spark, d, "fvecs"), F.col("id"))


def q_ivecs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ints = emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("int"),
        ).alias("ivec"),
    )
    d = _fixture_dir("ivecs", sf_dir)
    write_vecs(ints, d, "ivecs", id_col="vec_id", vec_col="ivec")
    back = read_vecs(spark, d, "ivecs")
    return back.select(
        "id",
        F.size("vec").alias("dim"),
        F.aggregate(
            "vec", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("v_sum"),
    )


def q_glove_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = emb(spark, sf_dir).select(
        F.concat(F.lit("tok_"), F.col("vec_id").cast("string")).alias("word"),
        F.col("embedding").alias("vec"),
    )
    d = _fixture_dir("glove", sf_dir)
    write_glove(words, d)
    return _endpoints(read_glove(spark, d), F.col("word"))


def q_npy_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded driver-side fixture write (.npy is a single-file format;
    at sf0.01 gate scale this is 500 rows), then the distributed
    memmap-per-task read with the reference's first-n limit."""
    # collect bounded by the read limit (2× so the reader's first-n
    # semantics are still exercised against a longer file), never the
    # whole table — the oracle only checks the first NPY_LIMIT rows
    pdf = (
        read_parquet_cached_schema(spark, f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .limit(2 * NPY_LIMIT)
        .select("embedding")
        .toPandas()
    )
    arr = np.stack([np.asarray(v, dtype=np.float32) for v in pdf["embedding"]])
    d = _fixture_dir("npy", sf_dir)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "vectors.npy")
    np.save(path, arr)
    return _endpoints(
        read_npy_vectors(spark, path, limit=NPY_LIMIT), F.col("id")
    )


def q_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column + id-column schema inference over the raw parquet
    (finds ``vec_id``/``embedding`` from the candidate lists and
    normalizes to the engine's (id, vec) contract)."""
    raw = read_parquet_cached_schema(spark, f"{sf_dir}/embeddings.parquet")
    tbl = load_vector_table(raw)
    return tbl.select(
        "id",
        F.size("vec").alias("dim"),
        F.element_at("vec", 1).cast("double").alias("v_first"),
    )


def q_persist_ivf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """save_artifact → load_artifact → search must be indistinguishable
    from searching the freshly built index (same oracle SQL as
    ivf_fixed_search)."""
    base = emb(spark, sf_dir)
    cents = ann.ivf_fixed_centroids(spark, sf_dir)
    art = FixedCentroidIVFIndexer(cents, metric="l2").build(
        base, id_col="vec_id", vec_col="embedding"
    )
    fp = config_fingerprint(
        {
            "op": "ivf_fixed",
            "n_centroids": ann.N_FIXED_CENTROIDS,
            "metric": "l2",
            "sf": os.path.basename(os.path.normpath(sf_dir)),
        }
    )
    d = _fixture_dir("persist_ivf", sf_dir)
    save_artifact(art, d, fingerprint=fp)
    if artifact_size_bytes(d) <= 0:
        raise RuntimeError(f"persisted artifact at {d} reports zero bytes")
    art2 = load_artifact(spark, d, expect_fingerprint=fp)
    qs = emb_queries(spark, sf_dir)
    res = (
        IVFSearcher(nprobe=ann.NPROBE_FIXED)
        .attach(art2)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


_RANKED = """
WITH s AS (
  SELECT embedding,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS id
  FROM embeddings
)
"""

_FVECS_ORACLE = _RANKED + """
SELECT id, CAST(len(embedding) AS INT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS v_first,
       CAST(embedding[len(embedding)] AS DOUBLE) AS v_last
FROM s
"""

_IVECS_ORACLE = """
WITH s AS (
  SELECT list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS INT)
         ) AS iv,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS id
  FROM embeddings
)
SELECT id, CAST(len(iv) AS INT) AS dim, CAST(list_sum(iv) AS BIGINT) AS v_sum
FROM s
"""

_GLOVE_ORACLE = """
SELECT 'tok_' || CAST(vec_id AS VARCHAR) AS word,
       CAST(len(embedding) AS INT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS v_first,
       CAST(embedding[len(embedding)] AS DOUBLE) AS v_last
FROM embeddings
"""

_NPY_ORACLE = _RANKED + f"""
SELECT id, CAST(len(embedding) AS INT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS v_first,
       CAST(embedding[len(embedding)] AS DOUBLE) AS v_last
FROM s WHERE id < {NPY_LIMIT}
"""

_SCHEMA_ORACLE = """
SELECT CAST(vec_id AS BIGINT) AS id,
       CAST(len(embedding) AS INT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS v_first
FROM embeddings
"""

QUERIES = {
    "source_fvecs_roundtrip": q_fvecs_roundtrip,
    "source_ivecs_roundtrip": q_ivecs_roundtrip,
    "source_glove_roundtrip": q_glove_roundtrip,
    "source_npy_read": q_npy_read,
    "source_schema_infer": q_schema_infer,
    "persistence_ivf_roundtrip": q_persist_ivf_roundtrip,
}

ORACLES = {
    "source_fvecs_roundtrip": _FVECS_ORACLE,
    "source_ivecs_roundtrip": _IVECS_ORACLE,
    "source_glove_roundtrip": _GLOVE_ORACLE,
    "source_npy_read": _NPY_ORACLE,
    "source_schema_infer": _SCHEMA_ORACLE,
    "persistence_ivf_roundtrip": ann.ORACLES["ivf_fixed_search"],
}
