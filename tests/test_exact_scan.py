"""The exact float64 block scan against independent references.

The serving tests compare the fp32 fast path with the exact path; these
pin the exact path itself: ``search_batch(..., exact=True)`` must equal
a brute-force ``pairwise_distances`` over each query's probed clusters
ranked by (dist, id), and cluster-pruned's broadcast kernel (both
phases run on the same scan) must equal ``exact_knn``.

Integer-valued vectors keep every l2 / ip distance exact in float64
(small-integer dot products and norms round nowhere), so duplicate
piles tie exactly in any GEMM shape and the (dist, id) order is fully
determined: those cases compare whole frames bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import make_vector_df
from vectordb_retrieval_spark.functions.distance import (
    normalize_rows,
    pairwise_distances,
    register_metric,
)
from vectordb_retrieval_spark.operators.serving import (
    BLOCK_ROWS,
    PackedClusters,
    search_batch,
)


def _pack(base, ids, cents):
    """PackedClusters over nearest-centroid (ties: lower id) clusters."""
    assign = pairwise_distances(base, cents, "l2").argmin(axis=1)
    cids = np.unique(assign)
    return PackedClusters(
        cids,
        [ids[assign == c] for c in cids],
        [base[assign == c] for c in cids],
        None,
        cents,
    ), assign


def _brute(base, ids, assign, cents, qids, qmat, nprobe, k, metric):
    """Per query: its nprobe nearest centroids (float64 L2, ties by
    cluster id), pairwise_distances over those clusters' rows, top-k
    by (dist, id)."""
    qc = pairwise_distances(qmat, cents, "l2")
    frames = []
    for r in range(len(qids)):
        cl = np.lexsort((np.arange(len(cents)), qc[r]))
        rows = np.isin(assign, cl if nprobe is None else cl[:nprobe])
        d = pairwise_distances(qmat[r : r + 1], base[rows], metric)[0]
        order = np.lexsort((ids[rows], d))[:k]
        frames.append(
            pd.DataFrame(
                {
                    "qid": np.full(len(order), qids[r], dtype=np.int64),
                    "id": ids[rows][order],
                    "dist": d[order],
                    "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _exact(idx, qids, qmat, nprobe, k, metric):
    return (
        search_batch(idx, qids, qmat, nprobe, k, metric, exact=True)
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("metric", ["l2", "ip"])
def test_exact_scan_duplicate_pile_shuffled_ids(metric):
    rng = np.random.RandomState(11)
    base = rng.randint(-4, 5, size=(2400, 12)).astype(np.float32)
    base[300:700] = base[5]  # one 400-row pile of identical vectors
    ids = (rng.permutation(len(base)) * 7 + 3).astype(np.int64)
    cents = base[rng.choice(len(base), 10, replace=False)].astype(np.float64)
    idx, assign = _pack(base, ids, cents)
    qmat = rng.randint(-4, 5, size=(40, 12)).astype(np.float32)
    qmat[:5] = base[5]  # queries sitting on the pile
    qids = np.arange(100, 140, dtype=np.int64)
    for nprobe, k in ((3, 25), (None, 12)):
        got = _exact(idx, qids, qmat, nprobe, k, metric)
        ref = _brute(base, ids, assign, cents, qids, qmat, nprobe, k, metric)
        pd.testing.assert_frame_equal(got, ref)


def test_exact_scan_cosine_shuffled_ids():
    rng = np.random.RandomState(12)
    base = normalize_rows(rng.randn(2000, 16)).astype(np.float32)
    ids = rng.permutation(len(base)).astype(np.int64)
    cents = base[rng.choice(len(base), 8, replace=False)].astype(np.float64)
    idx, assign = _pack(base, ids, cents)
    qmat = normalize_rows(rng.randn(30, 16)).astype(np.float32)
    qids = np.arange(30, dtype=np.int64)
    got = _exact(idx, qids, qmat, 3, 15, "cosine")
    ref = _brute(base, ids, assign, cents, qids, qmat, 3, 15, "cosine")
    pd.testing.assert_frame_equal(got.drop(columns="dist"), ref.drop(columns="dist"))
    np.testing.assert_allclose(got["dist"], ref["dist"], rtol=0, atol=1e-12)


@pytest.mark.parametrize("metric", ["l2", "ip"])
def test_exact_scan_one_cluster_wider_than_a_block(metric):
    rng = np.random.RandomState(13)
    n = BLOCK_ROWS + 1500
    base = rng.randint(-3, 4, size=(n, 8)).astype(np.float32)
    ids = rng.permutation(n).astype(np.int64)
    cents = np.zeros((1, 8))
    idx, assign = _pack(base, ids, cents)
    assert len(idx.ids) == 1 and len(idx.ids[0]) > BLOCK_ROWS
    qmat = rng.randint(-3, 4, size=(16, 8)).astype(np.float32)
    qids = np.arange(16, dtype=np.int64)
    got = _exact(idx, qids, qmat, None, 20, metric)
    ref = _brute(base, ids, assign, cents, qids, qmat, None, 20, metric)
    pd.testing.assert_frame_equal(got, ref)


def test_exact_scan_registered_metric():
    """Only the exact path serves a registered metric: it scores the
    decoded rows with the registered kernel."""

    def l1(q, b):
        return np.abs(q[:, None, :] - b[None, :, :]).sum(axis=2)

    register_metric("l1_exact_scan", l1)
    rng = np.random.RandomState(14)
    base = rng.randint(-4, 5, size=(1200, 6)).astype(np.float32)
    base[100:160] = base[0]
    ids = (rng.permutation(len(base)) + 50).astype(np.int64)
    cents = base[rng.choice(len(base), 6, replace=False)].astype(np.float64)
    idx, assign = _pack(base, ids, cents)
    qmat = rng.randint(-4, 5, size=(20, 6)).astype(np.float32)
    qids = np.arange(20, dtype=np.int64)
    for nprobe in (2, None):
        got = (
            search_batch(idx, qids, qmat, nprobe, 15, "l1_exact_scan")
            .sort_values(["qid", "rank"])
            .reset_index(drop=True)
        )
        ref = _brute(base, ids, assign, cents, qids, qmat, nprobe, 15, "l1_exact_scan")
        pd.testing.assert_frame_equal(got, ref)


def test_cluster_pruned_broadcast_big_cluster_equals_exact_knn(spark):
    """Cluster-pruned's broadcast kernel with one cluster over
    BLOCK_ROWS rows: both phases block-scan it and must return
    exact_knn's rows, distances included."""
    from vectordb_retrieval_spark.operators import serving
    from vectordb_retrieval_spark.operators.cluster_pruned import (
        ClusterPrunedExactIndexer,
        ClusterPrunedExactSearcher,
    )
    from vectordb_retrieval_spark.operators.exact import exact_knn

    rng = np.random.RandomState(15)
    big = rng.randint(-3, 4, size=(BLOCK_ROWS + 800, 8))
    far = rng.randint(-3, 4, size=(300, 8)) + 60
    base = np.vstack([big, far]).astype(np.float32)
    # the midway queries' phase-1 bound admits the other cluster too
    queries = np.vstack(
        [
            rng.randint(-3, 4, size=(12, 8)),
            rng.randint(-3, 4, size=(4, 8)) + 60,
            rng.randint(-1, 2, size=(6, 8)) + 30,
        ]
    ).astype(np.float32)
    base_df = make_vector_df(spark, base)
    query_df = make_vector_df(spark, queries, id_name="qid")
    art = ClusterPrunedExactIndexer(nlist=2, seed=1, max_iter=5).build(base_df)
    searcher = ClusterPrunedExactSearcher(nprobe=1).attach(art)
    bc = serving.artifact_serving_broadcast(
        art, spark, searcher.broadcast_threshold
    )
    assert bc is not None  # the broadcast kernel serves this index
    assert max(len(i) for i in bc.value.ids) > BLOCK_ROWS
    k = 15
    cols = ["qid", "id", "dist", "rank"]
    got = searcher.search(query_df, k).select(*cols).toPandas()
    ref = exact_knn(base_df, query_df, k, "l2").select(*cols).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values(["qid", "rank"]).reset_index(drop=True),
        ref.sort_values(["qid", "rank"]).reset_index(drop=True),
    )
