"""Degenerate-input hardening: empty serving batches, single-row
corpora, nlist larger than the corpus, empty streams.  A long-running
serving deployment will see all of these."""

from __future__ import annotations

import pytest

from vectordb_retrieval_spark.operators.exact import exact_knn, exact_range_search
from vectordb_retrieval_spark.operators.temporal import asof_join, sessionize


def _base(spark, n=5):
    return spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(n)], "id long, vec array<float>"
    )


def test_exact_empty_query_batch(spark):
    q0 = spark.createDataFrame([], "qid long, vec array<float>")
    res = exact_knn(_base(spark), q0, 3, "l2", qid_col="qid", qvec_col="vec")
    assert res.count() == 0
    assert [f.name for f in res.schema.fields] == ["qid", "id", "dist", "rank"]
    assert exact_range_search(
        _base(spark), q0, 1.0, "l2", qid_col="qid", qvec_col="vec"
    ).count() == 0


def test_exact_corpus_smaller_than_k(spark):
    q = spark.createDataFrame([(9, [0.0, 0.0])], "qid long, vec array<float>")
    res = exact_knn(_base(spark, 1), q, 3, "l2", qid_col="qid", qvec_col="vec")
    assert res.count() == 1  # unpadded: only the one real neighbor
    padded = exact_knn(
        _base(spark, 1), q, 3, "l2", qid_col="qid", qvec_col="vec", pad=True
    )
    rows = sorted(padded.collect(), key=lambda r: r.rank)
    assert len(rows) == 3 and rows[1].id == -1 and rows[2].id == -1


def test_ivf_nlist_exceeds_corpus(spark):
    from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher

    q = spark.createDataFrame([(9, [0.0, 0.0])], "qid long, vec array<float>")
    art = IVFIndexer(nlist=16, seed=1).build(_base(spark))
    res = IVFSearcher(nprobe=16).attach(art).search(q, 3)
    assert res.count() == 3


def test_temporal_empty_inputs(spark):
    empty = spark.createDataFrame([], "event_id long, user_id long, ts timestamp")
    assert sessionize(empty).count() == 0
    left = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00")], "event_id long, user_id long, ts string"
    ).selectExpr("event_id", "user_id", "cast(ts as timestamp) as ts")
    r = asof_join(left, empty, right_payload=("event_id",)).collect()
    assert [(x.event_id, x.asof_event_id) for x in r] == [(1, None)]


def test_all_searchers_handle_empty_query_batch(spark):
    """Every index family must serve an empty batch as an empty result
    on its broadcast and its past-gate plan (the exact paths regressed
    on this once — kernels.collect_vectors and exact._collect_queries
    now return (0, 0) matrices safely)."""
    import numpy as np

    from vectordb_retrieval_spark.operators.cluster_pruned import (
        ClusterPrunedExactIndexer,
        ClusterPrunedExactSearcher,
    )
    from vectordb_retrieval_spark.operators.graph_ann import (
        GraphANNIndexer,
        GraphANNSearcher,
    )
    from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher
    from vectordb_retrieval_spark.operators.lsh import LSHIndexer, LSHSearcher
    from vectordb_retrieval_spark.operators.pq import PQIndexer, PQADCSearcher

    rng = np.random.RandomState(0)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(300)],
        "id long, vec array<float>",
    )
    q0 = spark.createDataFrame([], "qid long, vec array<float>")
    # each family's broadcast plan, then its past-gate plan (the
    # blob-shipping one where a node-local store exists)
    past = {"broadcast_threshold": 0}
    off = {**past, "node_local_cache": False}
    families = [
        (
            LSHIndexer(dimension=8, num_tables=2, hash_size=6, seed=1),
            lambda **kw: LSHSearcher(max_candidates=50, **kw),
            past,
        ),
        (PQIndexer(m=4, ksub=16, seed=1), PQADCSearcher, past),
        (
            ClusterPrunedExactIndexer(nlist=8, seed=1),
            ClusterPrunedExactSearcher,
            off,
        ),
        (
            GraphANNIndexer(num_partitions=2, m=6, seed=1),
            lambda **kw: GraphANNSearcher(ef_search=10, **kw),
            off,
        ),
        (IVFIndexer(nlist=8, seed=1), lambda **kw: IVFSearcher(nprobe=3, **kw), off),
    ]
    for indexer, searcher, gated in families:
        art = indexer.build(base)
        for kw in ({}, gated):
            s = searcher(**kw).attach(art)
            assert s.search(q0, 5).count() == 0, (type(s).__name__, kw)


def _family(name):
    """(indexer, searcher) factories for one ANN family."""
    from vectordb_retrieval_spark.operators.cluster_pruned import (
        ClusterPrunedExactIndexer,
        ClusterPrunedExactSearcher,
    )
    from vectordb_retrieval_spark.operators.graph_ann import (
        GraphANNIndexer,
        GraphANNSearcher,
    )
    from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher
    from vectordb_retrieval_spark.operators.lsh import LSHIndexer, LSHSearcher
    from vectordb_retrieval_spark.operators.pq import PQIndexer, PQADCSearcher

    return {
        "lsh": (
            lambda: LSHIndexer(dimension=8, num_tables=2, hash_size=6, seed=1),
            lambda: LSHSearcher(max_candidates=50),
        ),
        "pq": (lambda: PQIndexer(m=4, ksub=16, seed=1), PQADCSearcher),
        "cluster_pruned": (
            lambda: ClusterPrunedExactIndexer(nlist=8, seed=1),
            ClusterPrunedExactSearcher,
        ),
        "graph": (
            lambda: GraphANNIndexer(num_partitions=2, m=6, seed=1),
            lambda: GraphANNSearcher(ef_search=10),
        ),
        "ivf": (lambda: IVFIndexer(nlist=8, seed=1), lambda: IVFSearcher(nprobe=3)),
    }[name]


@pytest.mark.parametrize(
    "family", ["lsh", "pq", "cluster_pruned", "graph", "ivf"]
)
def test_searcher_attach_contract(spark, family):
    """Every family: searching before ``attach`` raises the one
    not-attached error, and re-attaching to another artifact never
    serves a plan memoized against the old one."""
    import numpy as np

    make_indexer, make_searcher = _family(family)
    rng = np.random.RandomState(0)
    rows = [[float(x) for x in rng.randn(8)] for _ in range(300)]
    base_a = spark.createDataFrame(
        list(enumerate(rows)), "id long, vec array<float>"
    )
    base_b = spark.createDataFrame(
        [(10_000 + i, v) for i, v in enumerate(rows)], "id long, vec array<float>"
    )
    q = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(6)],
        "qid long, vec array<float>",
    )
    searcher = make_searcher()
    with pytest.raises(RuntimeError, match="searcher not attached"):
        searcher.search(q, 5)
    searcher.attach(make_indexer().build(base_a))
    ids_a = {r.id for r in searcher.search(q, 5).collect()}
    assert ids_a and max(ids_a) < 10_000
    # same query frame: a plan memoized against artifact a must miss
    searcher.attach(make_indexer().build(base_b))
    ids_b = {r.id for r in searcher.search(q, 5).collect()}
    assert ids_b and min(ids_b) >= 10_000


def test_pipeline_ops_empty_corpus(spark):
    """Every round-8 curation operator must pass an EMPTY corpus
    through with its output schema intact (a filtered-to-nothing
    upstream stage is routine in a long pipeline)."""
    import pyspark.sql.functions as F

    from vectordb_retrieval_spark.operators.packing import (
        pack_greedy,
        pack_spans,
        shuffle_shards,
    )
    from vectordb_retrieval_spark.operators.sampling import (
        hash_sample,
        quantile_buckets,
        quantile_gate,
        split_dataset,
        take_per_stratum,
    )
    from vectordb_retrieval_spark.operators.scrub import pii_scrub, pii_stats

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string"
    )
    assert pack_greedy(empty, 32).count() == 0
    assert pack_spans(empty, 32).count() == 0
    assert shuffle_shards(empty, 4).count() == 0
    assert pii_scrub(empty).count() == 0
    stats = pii_stats(empty).collect()[0]
    assert stats["n_docs"] == 0
    assert hash_sample(empty, 0.5).count() == 0
    assert take_per_stratum(empty, "lang", 3).count() == 0
    assert split_dataset(empty, {"train": 0.9, "val": 0.1}).count() == 0
    scored = empty.withColumn("score", F.length("text").cast("double"))
    # percentile of an empty column is NULL: the gate keeps nothing and
    # bucketing labels nothing, but neither may crash
    assert quantile_gate(scored, "score", 0.5).count() == 0
    assert quantile_buckets(scored, "score", 4).count() == 0


def test_global_rank_empty_and_single_row(spark):
    import pyspark.sql.functions as F

    from vectordb_retrieval_spark.operators.text_retrieval import global_rank

    order = [F.col("score").desc(), F.col("doc_id")]
    empty = spark.createDataFrame([], "doc_id long, score double")
    assert global_rank(empty, order).count() == 0
    one = spark.createDataFrame([(5, 1.5)], "doc_id long, score double")
    row = global_rank(one, order).collect()[0]
    assert (row["doc_id"], row["rank"]) == (5, 1)


def test_bm25_append_to_empty_build(spark):
    """Build on an empty corpus, then append everything — still equals
    the full rebuild (cold-start streaming ingestion)."""
    from vectordb_retrieval_spark.operators.text_retrieval import (
        BM25Indexer,
        BM25Searcher,
        bm25_append,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common") for i in range(12)],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    art = bm25_append(BM25Indexer().build(empty), docs)
    full = BM25Indexer().build(docs)
    assert art.params["n_docs"] == full.params["n_docs"]
    assert art.params["avgdl"] == full.params["avgdl"]
    qdf = spark.createDataFrame(
        [(0, ["common"])], "qid long, terms array<string>"
    )
    got = BM25Searcher().attach(art).search(qdf, k=5).collect()
    want = BM25Searcher().attach(full).search(qdf, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
