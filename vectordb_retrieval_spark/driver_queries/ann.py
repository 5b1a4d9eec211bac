"""ANN-operator driver queries with SQL-reproducible configurations.

The seeded projection matrices are inlined into the oracle SQL as
DOUBLE[] literals (exact float64 round-trip via repr), so DuckDB
recomputes the very same hashes the Spark kernels produce — the
reference's "exact reproducibility of randomized structures"
requirement (SURVEY.md §7.4#3) carried across engines.

Trained variants are made fully oracle-checkable by a reproducible
flavor of their own training loop: seeded data-point init + n Lloyd
mean-update iterations with centroids/codebooks rounded to 6 decimals
after every update (``ivf.lloyd_refine`` / ``quant.pq_refine``).  The
rounding pins each update to a decimal grid, so DuckDB — summing in a
different order — recomputes bit-identical centroids, and the whole
train→assign→probe→rerank pipeline hash-checks.  The MLlib-KMeans
path keeps its own oracle through ivf_kmeans_exhaustive (exhaustive
probe ⇒ exact regardless of centroids).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_retrieval_spark.driver_queries.common import (
    K,
    emb,
    emb_queries,
    read_parquet_cached_schema,
    round6,
    sql_float_list,
)
from vectordb_retrieval_spark.driver_queries.knn import DIST_EXPRS, KNN_ORACLE
from vectordb_retrieval_spark.functions.hashing import make_offsets, make_projections
from vectordb_retrieval_spark.functions.kernels import collect_vectors
from vectordb_retrieval_spark.operators.cluster_pruned import (
    ClusterPrunedExactIndexer,
    ClusterPrunedExactSearcher,
)
from vectordb_retrieval_spark.operators.graph_ann import (
    GraphANNIndexer,
    GraphANNSearcher,
)
from vectordb_retrieval_spark.operators.ivf import (
    FixedCentroidIVFIndexer,
    IVFIndexer,
    IVFSearcher,
    ivf_append,
    ivf_delete,
    lloyd_refine,
)
from vectordb_retrieval_spark.operators.lsh import LSHIndexer, LSHSearcher
from vectordb_retrieval_spark.operators.pq import PQADCSearcher, PQIndexer
from vectordb_retrieval_spark.operators.quant import PQCodec, SQ8Codec, pq_refine

DIM = 64
SIGN_TABLES, SIGN_BITS, SEED = 2, 8, 42
E2_TABLES, E2_BITS, E2_WIDTH = 2, 4, 4.0
MULTIPLIER = 8.0
N_FIXED_CENTROIDS = 8
NPROBE_FIXED = 3

_SIGN_P = make_projections(DIM, SIGN_TABLES, SIGN_BITS, SEED)
_E2_P = make_projections(DIM, E2_TABLES, E2_BITS, SEED)
_E2_B = make_offsets(E2_TABLES, E2_BITS, E2_WIDTH, SEED)


def _sign_indexer() -> LSHIndexer:
    return LSHIndexer(
        DIM, num_tables=SIGN_TABLES, hash_size=SIGN_BITS, metric="cosine", seed=SEED
    )


def _e2_indexer() -> LSHIndexer:
    return LSHIndexer(
        DIM,
        num_tables=E2_TABLES,
        hash_size=E2_BITS,
        metric="l2",
        seed=SEED,
        bucket_width=E2_WIDTH,
    )


def _buckets_query(spark: SparkSession, sf_dir: str, indexer: LSHIndexer) -> DataFrame:
    art = indexer.build(emb(spark, sf_dir), id_col="vec_id", vec_col="embedding")
    return art.tables["buckets"].select("id", "table_id", "bucket")


def lsh_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = emb(spark, sf_dir)
    art = _sign_indexer().build(base, id_col="vec_id", vec_col="embedding")
    qs = emb_queries(spark, sf_dir)
    res = (
        LSHSearcher(candidate_multiplier=MULTIPLIER)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def ivf_fixed_centroids(spark: SparkSession, sf_dir: str):
    cdf = read_parquet_cached_schema(spark, f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < N_FIXED_CENTROIDS)  # collect-only: raw scan, see emb_queries
    _, cents = collect_vectors(cdf, "vec_id", "embedding", sort_ids=True)
    return cents


def ivf_fixed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = ivf_fixed_centroids(spark, sf_dir)
    art = FixedCentroidIVFIndexer(cents, metric="l2").build(
        emb(spark, sf_dir), id_col="vec_id", vec_col="embedding"
    )
    return art.tables["assignment"].select("id", F.col("cluster_id").cast("int"))


def ivf_fixed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = emb(spark, sf_dir)
    cents = ivf_fixed_centroids(spark, sf_dir)
    art = FixedCentroidIVFIndexer(cents, metric="l2").build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        IVFSearcher(nprobe=NPROBE_FIXED)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def ivf_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion parity: build the fixed-centroid IVF on the
    even half of the corpus, ``ivf_append`` the odd half, then search.
    Cluster assignment is per-row, so append ≡ single-shot full build —
    the result hash-matches the same oracle SQL as ivf_fixed_search."""
    base = emb(spark, sf_dir)
    cents = ivf_fixed_centroids(spark, sf_dir)
    art = FixedCentroidIVFIndexer(cents, metric="l2").build(
        base.filter(F.col("vec_id") % 2 == 0), id_col="vec_id", vec_col="embedding"
    )
    art = ivf_append(
        art,
        base.filter(F.col("vec_id") % 2 == 1),
        id_col="vec_id",
        vec_col="embedding",
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        IVFSearcher(nprobe=NPROBE_FIXED)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def ivf_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-deletion parity: build on the full corpus, ivf_delete the
    odd ids, then probe ALL clusters — exhaustive probe over the
    survivors is provably exact kNN over the even half, so the oracle
    is plain SQL independent of the centroid assignment."""
    base = emb(spark, sf_dir)
    cents = ivf_fixed_centroids(spark, sf_dir)
    art = FixedCentroidIVFIndexer(cents, metric="l2").build(
        base, id_col="vec_id", vec_col="embedding"
    )
    art = ivf_delete(art, base.filter(F.col("vec_id") % 2 == 1), id_col="vec_id")
    qs = emb_queries(spark, sf_dir)
    res = (
        IVFSearcher(nprobe=N_FIXED_CENTROIDS)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def ivf_sq8_fixed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 end-to-end with fixed centroids: assignment on raw
    vectors, SQ8 codes in the index table, search distances on decoded
    vectors — every step deterministic double arithmetic, hash-checked
    against a DuckDB oracle that reproduces calibration, round-even
    encoding, decoding, probing, and the final top-k."""
    base = emb(spark, sf_dir)
    cents = ivf_fixed_centroids(spark, sf_dir)
    art = FixedCentroidIVFIndexer(cents, metric="l2", codec=SQ8Codec()).build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        IVFSearcher(nprobe=NPROBE_FIXED)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def ivf_pq_fixed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end-to-end with fixed centroids AND fixed (data-derived)
    codebooks — assignment on raw vectors, m-byte PQ codes in the index
    table, search distances on decoded vectors; fully hash-checked."""
    base = emb(spark, sf_dir)
    cents = ivf_fixed_centroids(spark, sf_dir)
    cdf = read_parquet_cached_schema(spark, f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < PQ_KSUB_FIXED)  # collect-only: raw scan, see emb_queries
    _, cmat = collect_vectors(cdf, "vec_id", "embedding", sort_ids=True)
    cmat = cmat.astype(np.float64)
    codec = PQCodec(m=PQ_M, ksub=PQ_KSUB_FIXED)
    codec.codebooks = np.stack(
        [cmat[:, j * DSUB : (j + 1) * DSUB] for j in range(PQ_M)]
    )
    art = FixedCentroidIVFIndexer(cents, metric="l2", codec=codec).build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        IVFSearcher(nprobe=NPROBE_FIXED)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def sq8_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    codec = SQ8Codec().fit(
        emb(spark, sf_dir).select(F.col("embedding").alias("vec")), "vec"
    )
    rows = [
        (i, float(codec.vmin[i]), float(codec.vmax[i]))
        for i in range(len(codec.vmin))
    ]
    return round6(spark.createDataFrame(rows, "dim int, vmin double, vmax double"))


def cluster_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = emb(spark, sf_dir)
    # exactness holds for ANY centroids (triangle-inequality bound), so
    # the cheap KMeans config is free accuracy-wise
    art = ClusterPrunedExactIndexer(
        nlist=16, seed=7, max_iter=5, init_mode="random"
    ).build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        ClusterPrunedExactSearcher(nprobe=2)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


KM_NLIST, KM_ITERS, KM_NPROBE = 16, 2, 4


def ivf_kmeans_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans-trained IVF, reproducible flavor: init = first KM_NLIST
    base vectors, KM_ITERS distributed Lloyd iterations with centroids
    rounded to 6 dp after each mean update (cross-engine determinism),
    then nprobe probing — train, assignment, probe and rerank all
    hash-checked against a DuckDB oracle that replays the same
    iterations."""
    base = emb(spark, sf_dir)
    cdf = read_parquet_cached_schema(spark, f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < KM_NLIST)  # collect-only: raw scan, see emb_queries
    _, init = collect_vectors(cdf, "vec_id", "embedding", sort_ids=True)
    cents = lloyd_refine(
        base, init, id_col="vec_id", vec_col="embedding", iters=KM_ITERS
    )
    art = FixedCentroidIVFIndexer(cents, metric="l2").build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = IVFSearcher(nprobe=KM_NPROBE).attach(art).search(
        qs, K, qid_col="vec_id", vec_col="embedding"
    )
    return res.select("qid", "id", "rank")


def ivf_kmeans_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe == nlist scans every cluster ⇒ provably exact regardless
    of the (non-SQL-expressible) KMeans centroids — oracle-checked
    against plain exact kNN."""
    base = emb(spark, sf_dir)
    art = IVFIndexer(nlist=16, seed=SEED, max_iter=10, init_mode="random").build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = IVFSearcher(nprobe=16).attach(art).search(
        qs, K, qid_col="vec_id", vec_col="embedding"
    )
    return res.select("qid", "id", "rank")


GRAPH_PARTS, GRAPH_PROBE, GRAPH_SEED = 4, 2, 42
GRAPH_BITS = max(1, (GRAPH_PARTS - 1).bit_length())
_GRAPH_P = make_projections(DIM, 1, GRAPH_BITS, GRAPH_SEED)


def graph_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-sharded graph index with centroid-routed probing: every
    query visits only its GRAPH_PROBE nearest shards (by the rounded
    per-shard centroids) and ef saturates those shards, so the
    within-shard search is provably exact and the whole
    shard→centroid→route→merge pipeline hash-checks against a DuckDB
    oracle that recomputes the sign-LSH shard assignment, the 6
    dp-rounded centroids and the routing.  The narrow-beam operating
    point stays pinned by tests/test_graph_ann.py recall tests."""
    base = emb(spark, sf_dir)
    art = GraphANNIndexer(
        m=8,
        ef_construction=32,
        num_partitions=GRAPH_PARTS,
        partition_by="lsh",
        seed=GRAPH_SEED,
    ).build(base, id_col="vec_id", vec_col="embedding")
    # pin routing inputs to the 6 dp grid the SQL oracle recomputes
    art.params["centroids"] = np.round(art.params["centroids"], 6)
    qs = emb_queries(spark, sf_dir)
    res = (
        GraphANNSearcher(ef_search=100_000, probe_partitions=GRAPH_PROBE)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def graph_ann_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ef_search ≥ partition size ⇒ the beam visits every node of each
    (connected-by-construction) partition graph ⇒ provably exact —
    oracle-checked against the plain exact-kNN SQL.  force_beam makes
    the wave-synchronized beam kernel itself (not its GEMM shortcut)
    the thing under the hash check."""
    base = emb(spark, sf_dir)
    art = GraphANNIndexer(m=8, ef_construction=32, num_partitions=4).build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        GraphANNSearcher(ef_search=100_000, force_beam=True)
        .attach(art)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


PQ_M, PQ_KSUB_FIXED = 8, 8
DSUB = DIM // PQ_M


def pq_fixed_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC with data-derived codebooks (codebook entry c of subspace
    j = subvector j of base vector c) — deterministic and fully
    SQL-expressible, so the whole encode→ADC→top-k pipeline is
    hash-checked against DuckDB. ADC distance with exact codebook
    arithmetic equals L2 to the decoded vector, which is what the
    oracle computes."""
    base = emb(spark, sf_dir)
    cdf = read_parquet_cached_schema(spark, f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < PQ_KSUB_FIXED)  # collect-only: raw scan, see emb_queries
    _, cmat = collect_vectors(cdf, "vec_id", "embedding", sort_ids=True)
    cmat = cmat.astype(np.float64)
    cb = np.stack(
        [cmat[:, j * DSUB : (j + 1) * DSUB] for j in range(PQ_M)]
    )
    art = PQIndexer(m=PQ_M, ksub=PQ_KSUB_FIXED, metric="l2", codebooks=cb).build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = PQADCSearcher().attach(art).search(
        qs, K, qid_col="vec_id", vec_col="embedding"
    )
    return res.select("qid", "id", "rank")


PQ_ADC_KSUB, PQ_ADC_ITERS = 16, 1


def pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with Lloyd-trained codebooks, reproducible flavor: init
    codebooks from the first PQ_ADC_KSUB base vectors, PQ_ADC_ITERS
    distributed Lloyd steps per subspace with 6 dp-rounded mean
    updates, then exhaustive ADC — training and search both
    hash-checked against a DuckDB oracle replaying the same steps."""
    base = emb(spark, sf_dir)
    cdf = read_parquet_cached_schema(spark, f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < PQ_ADC_KSUB)  # collect-only: raw scan, see emb_queries
    _, cmat = collect_vectors(cdf, "vec_id", "embedding", sort_ids=True)
    cmat = cmat.astype(np.float64)
    cb = np.stack([cmat[:, j * DSUB : (j + 1) * DSUB] for j in range(PQ_M)])
    cb = pq_refine(
        base, cb, id_col="vec_id", vec_col="embedding", iters=PQ_ADC_ITERS
    )
    art = PQIndexer(m=PQ_M, ksub=PQ_ADC_KSUB, metric="l2", codebooks=cb).build(
        base, id_col="vec_id", vec_col="embedding"
    )
    qs = emb_queries(spark, sf_dir)
    res = PQADCSearcher().attach(art).search(
        qs, K, qid_col="vec_id", vec_col="embedding"
    )
    return res.select("qid", "id", "rank")


# ---------------------------------------------------------------- oracle SQL


def _sign_bucket_expr(table: int, src: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({src}, {sql_float_list(_SIGN_P[table][i])})"
        f" >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIGN_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS VARCHAR)"


def _e2_bucket_expr(table: int, src: str) -> str:
    parts = [
        "CAST(CAST(floor((list_dot_product("
        f"{src}, {sql_float_list(_E2_P[table][i])}) + {_E2_B[table][i]!r})"
        f" / {E2_WIDTH!r}) AS BIGINT) AS VARCHAR)"
        for i in range(E2_BITS)
    ]
    return "concat_ws('_', " + ", ".join(parts) + ")"


def _buckets_oracle(expr_fn, n_tables: int) -> str:
    selects = [
        f"SELECT vec_id AS id, {t} AS table_id, "
        f"{expr_fn(t, 'CAST(b.embedding AS DOUBLE[])')} AS bucket FROM embeddings b"
        for t in range(n_tables)
    ]
    return " UNION ALL ".join(selects)


def _lsh_search_oracle() -> str:
    cap = max(K, math.ceil(MULTIPLIER * K))
    bh = _buckets_oracle(_sign_bucket_expr, SIGN_TABLES)
    return f"""
WITH bh AS ({bh}),
qh AS (SELECT * FROM bh WHERE id % 10 = 0),
votes AS (
  SELECT q.id AS qid, b.id, count(*) AS v
  FROM qh q JOIN bh b ON q.table_id = b.table_id AND q.bucket = b.bucket
  GROUP BY q.id, b.id
),
capped AS (
  SELECT qid, id FROM (
    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY v DESC, id) AS rn
    FROM votes
  ) WHERE rn <= {cap}
),
rr AS (
  SELECT c.qid, c.id,
         row_number() OVER (
           PARTITION BY c.qid
           ORDER BY 1.0 - list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                                 CAST(be.embedding AS DOUBLE[])),
                    c.id
         ) AS rank
  FROM capped c
  JOIN embeddings qe ON qe.vec_id = c.qid
  JOIN embeddings be ON be.vec_id = c.id
)
SELECT qid, id, rank FROM rr WHERE rank <= {K}
"""


_IVF_FIXED_COMMON = f"""
c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {N_FIXED_CENTROIDS}
),
assign AS (
  SELECT id, cid AS cluster_id FROM (
    SELECT b.vec_id AS id, c.cid,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(CAST(b.embedding AS DOUBLE[]), c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c
  ) WHERE rn = 1
)
"""

_IVF_ASSIGN_ORACLE = f"WITH {_IVF_FIXED_COMMON} SELECT id, CAST(cluster_id AS INT) AS cluster_id FROM assign"

_IVF_SEARCH_ORACLE = f"""
WITH {_IVF_FIXED_COMMON},
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
probe AS (
  SELECT qid, cid AS cluster_id FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE_FIXED}
),
cand AS (
  SELECT p.qid, a.id FROM probe p JOIN assign a ON a.cluster_id = p.cluster_id
),
rr AS (
  SELECT cand.qid, cand.id,
         row_number() OVER (
           PARTITION BY cand.qid
           ORDER BY list_distance(q2.qv, CAST(be.embedding AS DOUBLE[])), cand.id
         ) AS rank
  FROM cand
  JOIN q q2 ON q2.qid = cand.qid
  JOIN embeddings be ON be.vec_id = cand.id
)
SELECT qid, id, rank FROM rr WHERE rank <= {K}
"""

_SQ8_ORACLE = f"""
SELECT CAST(t.i - 1 AS INT) AS dim,
       round(CAST(min(b.embedding[t.i]) AS DOUBLE), 6) AS vmin,
       round(CAST(max(b.embedding[t.i]) AS DOUBLE), 6) AS vmax
FROM embeddings b
CROSS JOIN (SELECT CAST(range AS INT) AS i FROM range(1, {DIM + 1})) t
GROUP BY t.i
"""

# IVF-SQ8 with fixed centroids: per-dim [min,max] calibration, code =
# clip(round_even((x−vmin)/scale), 0, 255) (round_even == np.rint),
# decoded x̂ = vmin + code·scale — all double, bit-identical across
# engines; search = probe NPROBE_FIXED clusters, L2 on decoded vectors
_IVF_SQ8_ORACLE = f"""
WITH {_IVF_FIXED_COMMON},
dims AS (SELECT CAST(range AS INT) AS i FROM range(1, {DIM + 1})),
cal AS (
  SELECT t.i,
         min(CAST(b.embedding[t.i] AS DOUBLE)) AS vmin,
         max(CAST(b.embedding[t.i] AS DOUBLE)) AS vmax
  FROM embeddings b CROSS JOIN dims t GROUP BY t.i
),
cal2 AS (
  SELECT i, vmin,
         CASE WHEN vmax = vmin THEN 1.0 ELSE (vmax - vmin) / 255.0 END AS scale
  FROM cal
),
dec AS (
  SELECT b.vec_id AS id,
         list(cl.vmin + least(greatest(
                round_even((CAST(b.embedding[cl.i] AS DOUBLE) - cl.vmin)
                           / cl.scale, 0), 0), 255) * cl.scale
              ORDER BY cl.i) AS dv
  FROM embeddings b CROSS JOIN cal2 cl
  GROUP BY b.vec_id
),
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
probe AS (
  SELECT qid, cid AS cluster_id FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE_FIXED}
),
rr AS (
  SELECT p.qid, a.id,
         row_number() OVER (
           PARTITION BY p.qid
           ORDER BY list_distance(q2.qv, dec.dv), a.id
         ) AS rank
  FROM probe p
  JOIN assign a ON a.cluster_id = p.cluster_id
  JOIN q q2 ON q2.qid = p.qid
  JOIN dec ON dec.id = a.id
)
SELECT qid, id, rank FROM rr WHERE rank <= {K}
"""

# fixed-codebook PQ decode CTEs: encode = nearest codebook entry per
# subspace (tie-break lowest code); decoded vector = concat of that
# row's codebook entries in subspace order (codebook entry c of
# subspace j = subvector j of base vector c)
_PQ_DEC_CTES = f"""
j AS (SELECT CAST(range AS INT) AS j FROM range(0, {PQ_M})),
cb AS (
  SELECT p.vec_id AS code, j.j,
         CAST(p.embedding[j.j*{DSUB}+1 : j.j*{DSUB}+{DSUB}] AS DOUBLE[]) AS cv
  FROM embeddings p, j
  WHERE p.vec_id < {PQ_KSUB_FIXED}
),
sub AS (
  SELECT b.vec_id AS id, j.j,
         CAST(b.embedding[j.j*{DSUB}+1 : j.j*{DSUB}+{DSUB}] AS DOUBLE[]) AS bv
  FROM embeddings b, j
),
codes AS (
  SELECT id, j, cv FROM (
    SELECT s.id, s.j, cb.cv,
           row_number() OVER (PARTITION BY s.id, s.j
                              ORDER BY list_distance(s.bv, cb.cv), cb.code) AS rn
    FROM sub s JOIN cb ON cb.j = s.j
  ) WHERE rn = 1
),
dec AS (
  SELECT id, flatten(list(cv ORDER BY j)) AS dv FROM codes GROUP BY id
)
"""

# exhaustive ADC = L2(query, decoded vector) over every base row
_PQ_FIXED_ORACLE = f"""
WITH {_PQ_DEC_CTES},
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
r AS (
  SELECT q.qid, dec.id,
         row_number() OVER (
           PARTITION BY q.qid ORDER BY list_distance(q.qv, dec.dv), dec.id
         ) AS rank
  FROM q CROSS JOIN dec
)
SELECT qid, id, rank FROM r WHERE rank <= {K}
"""

# IVF-PQ: raw-vector assignment + probing (as ivf_fixed), PQ-decoded
# distances inside the probed clusters only
_IVF_PQ_ORACLE = f"""
WITH {_IVF_FIXED_COMMON},
{_PQ_DEC_CTES},
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
probe AS (
  SELECT qid, cid AS cluster_id FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {NPROBE_FIXED}
),
rr AS (
  SELECT p.qid, a.id,
         row_number() OVER (
           PARTITION BY p.qid
           ORDER BY list_distance(q2.qv, dec.dv), a.id
         ) AS rank
  FROM probe p
  JOIN assign a ON a.cluster_id = p.cluster_id
  JOIN q q2 ON q2.qid = p.qid
  JOIN dec ON dec.id = a.id
)
SELECT qid, id, rank FROM rr WHERE rank <= {K}
"""

# ---- reproducible-Lloyd IVF oracle: replay init + KM_ITERS rounded
# mean updates, then probe/rerank exactly as _IVF_SEARCH_ORACLE.
# round_even == np.round (both round-half-even on the 6 dp grid).


def _lloyd_ctes(n_cents: int, iters: int) -> tuple[str, str]:
    parts = [
        f"dims AS (SELECT CAST(range AS INT) AS i FROM range(1, {DIM + 1}))",
        "c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv "
        f"FROM embeddings WHERE vec_id < {n_cents})",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        parts += [
            f"""a{it} AS (
  SELECT id, cid FROM (
    SELECT b.vec_id AS id, c.cid,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(CAST(b.embedding AS DOUBLE[]), c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN {prev} c
  ) WHERE rn = 1)""",
            f"""m{it} AS (
  SELECT a.cid, t.i, round_even(avg(CAST(b.embedding[t.i] AS DOUBLE)), 6) AS v
  FROM a{it} a JOIN embeddings b ON b.vec_id = a.id CROSS JOIN dims t
  GROUP BY a.cid, t.i)""",
            f"g{it} AS (SELECT cid, list(v ORDER BY i) AS cv FROM m{it} GROUP BY cid)",
            f"""c{it} AS (
  SELECT c.cid, COALESCE(g.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN g{it} g USING (cid))""",
        ]
        prev = f"c{it}"
    return ",\n".join(parts), prev


def _ivf_kmeans_oracle() -> str:
    ctes, cfinal = _lloyd_ctes(KM_NLIST, KM_ITERS)
    return f"""
WITH {ctes},
af AS (
  SELECT id, cid AS cluster_id FROM (
    SELECT b.vec_id AS id, c.cid,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(CAST(b.embedding AS DOUBLE[]), c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN {cfinal} c
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
probe AS (
  SELECT qid, cid AS cluster_id FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cid
           ) AS rn
    FROM q CROSS JOIN {cfinal} c
  ) WHERE rn <= {KM_NPROBE}
),
rr AS (
  SELECT p.qid, a.id,
         row_number() OVER (
           PARTITION BY p.qid
           ORDER BY list_distance(q2.qv, CAST(be.embedding AS DOUBLE[])), a.id
         ) AS rank
  FROM probe p
  JOIN af a ON a.cluster_id = p.cluster_id
  JOIN q q2 ON q2.qid = p.qid
  JOIN embeddings be ON be.vec_id = a.id
)
SELECT qid, id, rank FROM rr WHERE rank <= {K}
"""


# ---- reproducible-Lloyd PQ oracle: per-subspace init + rounded mean
# update, re-encode, decode, exhaustive ADC (≡ L2 to decoded vector)
def _pq_adc_oracle() -> str:
    return f"""
WITH j AS (SELECT CAST(range AS INT) AS j FROM range(0, {PQ_M})),
sdims AS (SELECT CAST(range AS INT) AS i FROM range(1, {DSUB + 1})),
cb0 AS (
  SELECT p.vec_id AS code, j.j,
         CAST(p.embedding[j.j*{DSUB}+1 : j.j*{DSUB}+{DSUB}] AS DOUBLE[]) AS cv
  FROM embeddings p, j
  WHERE p.vec_id < {PQ_ADC_KSUB}
),
sub AS (
  SELECT b.vec_id AS id, j.j,
         CAST(b.embedding[j.j*{DSUB}+1 : j.j*{DSUB}+{DSUB}] AS DOUBLE[]) AS bv
  FROM embeddings b, j
),
e1 AS (
  SELECT id, j, code FROM (
    SELECT s.id, s.j, c.code,
           row_number() OVER (PARTITION BY s.id, s.j
                              ORDER BY list_distance(s.bv, c.cv), c.code) AS rn
    FROM sub s JOIN cb0 c ON c.j = s.j
  ) WHERE rn = 1
),
m1 AS (
  SELECT e.j, e.code, t.i, round_even(avg(s.bv[t.i]), 6) AS v
  FROM e1 e JOIN sub s ON s.id = e.id AND s.j = e.j CROSS JOIN sdims t
  GROUP BY e.j, e.code, t.i
),
g1 AS (SELECT j, code, list(v ORDER BY i) AS cv FROM m1 GROUP BY j, code),
cb1 AS (
  SELECT c.j, c.code, COALESCE(g.cv, c.cv) AS cv
  FROM cb0 c LEFT JOIN g1 g ON g.j = c.j AND g.code = c.code
),
codes AS (
  SELECT id, j, cv FROM (
    SELECT s.id, s.j, c.cv,
           row_number() OVER (PARTITION BY s.id, s.j
                              ORDER BY list_distance(s.bv, c.cv), c.code) AS rn
    FROM sub s JOIN cb1 c ON c.j = s.j
  ) WHERE rn = 1
),
dec AS (SELECT id, flatten(list(cv ORDER BY j)) AS dv FROM codes GROUP BY id),
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 10 = 0
),
r AS (
  SELECT q.qid, dec.id,
         row_number() OVER (
           PARTITION BY q.qid ORDER BY list_distance(q.qv, dec.dv), dec.id
         ) AS rank
  FROM q CROSS JOIN dec
)
SELECT qid, id, rank FROM r WHERE rank <= {K}
"""


# ---- routed graph oracle: sign-LSH shard assignment, 6 dp-rounded
# per-shard centroids, top-GRAPH_PROBE routing, exact search within
# the routed shards
def _graph_pid_expr(src: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({src}, {sql_float_list(_GRAPH_P[0][i])})"
        f" >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(GRAPH_BITS)
    ]
    return "((" + " + ".join(terms) + f") % {GRAPH_PARTS})"


def _graph_routed_oracle() -> str:
    return f"""
WITH shard AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
         {_graph_pid_expr('CAST(embedding AS DOUBLE[])')} AS pid
  FROM embeddings
),
dims AS (SELECT CAST(range AS INT) AS i FROM range(1, {DIM + 1})),
cent AS (
  SELECT s.pid, t.i, round_even(avg(s.v[t.i]), 6) AS c
  FROM shard s CROSS JOIN dims t GROUP BY s.pid, t.i
),
cl AS (SELECT pid, list(c ORDER BY i) AS cv FROM cent GROUP BY pid),
q AS (SELECT id AS qid, v AS qv FROM shard WHERE id % 10 = 0),
route AS (
  SELECT qid, pid FROM (
    SELECT q.qid, cl.pid,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY list_distance(q.qv, cl.cv), cl.pid
           ) AS rn
    FROM q CROSS JOIN cl
  ) WHERE rn <= {GRAPH_PROBE}
),
rr AS (
  SELECT r.qid, s.id,
         row_number() OVER (
           PARTITION BY r.qid ORDER BY list_distance(q2.qv, s.v), s.id
         ) AS rank
  FROM route r
  JOIN shard s ON s.pid = r.pid
  JOIN q q2 ON q2.qid = r.qid
)
SELECT qid, id, rank FROM rr WHERE rank <= {K}
"""


QUERIES = {
    "lsh_sign_buckets": lambda spark, sf: _buckets_query(spark, sf, _sign_indexer()),
    "lsh_e2lsh_buckets": lambda spark, sf: _buckets_query(spark, sf, _e2_indexer()),
    "lsh_search_cosine": lsh_search_cosine,
    "ivf_fixed_assign": ivf_fixed_assign,
    "ivf_fixed_search": ivf_fixed_search,
    "ivf_append_search": ivf_append_search,
    "ivf_delete_search": ivf_delete_search,
    "ivf_sq8_fixed_search": ivf_sq8_fixed_search,
    "ivf_pq_fixed_search": ivf_pq_fixed_search,
    "sq8_calibration": sq8_calibration,
    "cluster_pruned_exact_search": cluster_pruned_search,
    "ivf_kmeans_search": ivf_kmeans_search,
    "ivf_kmeans_exhaustive": ivf_kmeans_exhaustive,
    "pq_adc_search": pq_adc_search,
    "pq_fixed_adc": pq_fixed_adc,
    "graph_ann_search": graph_ann_search,
    "graph_ann_exhaustive": graph_ann_exhaustive,
}

ORACLES = {
    "lsh_sign_buckets": _buckets_oracle(_sign_bucket_expr, SIGN_TABLES),
    "lsh_e2lsh_buckets": _buckets_oracle(_e2_bucket_expr, E2_TABLES),
    "lsh_search_cosine": _lsh_search_oracle(),
    "ivf_fixed_assign": _IVF_ASSIGN_ORACLE,
    "ivf_fixed_search": _IVF_SEARCH_ORACLE,
    "ivf_append_search": _IVF_SEARCH_ORACLE,
    "ivf_delete_search": KNN_ORACLE.format(
        dist_expr=DIST_EXPRS["l2"]
    ).replace("CROSS JOIN embeddings b", "CROSS JOIN embeddings b WHERE b.vec_id % 2 = 0"),
    "sq8_calibration": _SQ8_ORACLE,
    "ivf_sq8_fixed_search": _IVF_SQ8_ORACLE,
    "ivf_pq_fixed_search": _IVF_PQ_ORACLE,
    "pq_fixed_adc": _PQ_FIXED_ORACLE,
    "cluster_pruned_exact_search": KNN_ORACLE.format(dist_expr=DIST_EXPRS["l2"]),
    "graph_ann_exhaustive": KNN_ORACLE.format(dist_expr=DIST_EXPRS["l2"]),
    "ivf_kmeans_exhaustive": KNN_ORACLE.format(dist_expr=DIST_EXPRS["l2"]),
    "ivf_kmeans_search": _ivf_kmeans_oracle(),
    "pq_adc_search": _pq_adc_oracle(),
    "graph_ann_search": _graph_routed_oracle(),
}
