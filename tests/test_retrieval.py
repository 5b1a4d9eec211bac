"""Lexical (BM25), hybrid-fusion, and filtered-vector-search tests.

Filtered search must give IDENTICAL results across every physical plan
(broadcast PackedClusters view, node-local shm partitioned scan,
blob-shipping partitioned scan) and must equal brute-force kNN over the
allowed subset when the probe is exhaustive — the pre-filtering
contract (mask before top-k, all k results satisfy the predicate).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import make_vector_df
from vectordb_retrieval_spark.operators.exact import exact_knn
from vectordb_retrieval_spark.operators.ivf import FixedCentroidIVFIndexer, IVFSearcher
from vectordb_retrieval_spark.operators.text_retrieval import bm25_rank, rrf_fuse


# ---------- BM25 ----------


def _bm25_py(docs: dict[int, str], terms: list[str], k1=1.2, b=0.75):
    """Plain-python BM25 reference (Lucene idf)."""
    toks = {d: t.split() for d, t in docs.items()}
    dl = {d: len(ts) for d, ts in toks.items()}
    n = len(docs)
    avgdl = sum(dl.values()) / n
    scores: dict[int, float] = {}
    for term in terms:
        df = sum(1 for ts in toks.values() if term in ts)
        if df == 0:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, ts in toks.items():
            tf = ts.count(term)
            if tf == 0:
                continue
            s = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl[d] / avgdl)
            )
            scores[d] = scores.get(d, 0.0) + s
    return scores


def test_bm25_matches_python_reference(spark):
    docs = {
        0: "spark join window spark spark",
        1: "hash join hash shuffle",
        2: "window agg scan filter",
        3: "spark",
        4: "scan filter agg order",  # matches no query term
    }
    df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], schema="doc_id long, text string"
    )
    terms = ["spark", "join", "shuffle"]
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_rank(df, terms).collect()
    }
    want = _bm25_py(docs, terms)
    assert set(got) == set(want)  # doc 4 absent
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_bm25_rank_order_and_topn(spark):
    df = spark.createDataFrame(
        [(i, "common " * (i + 1) + ("rare" if i == 2 else "")) for i in range(6)],
        schema="doc_id long, text string",
    )
    res = bm25_rank(df, ["rare", "common"], top_n=3).collect()
    assert [r["rank"] for r in res] == [1, 2, 3]
    # doc 2 holds the only 'rare' hit → top score
    assert res[0]["doc_id"] == 2


def test_bm25_search_multiquery_matches_per_query_rank(spark):
    """Batched bm25_search must give each query the same ranking as a
    standalone bm25_rank over that query's terms."""
    from vectordb_retrieval_spark.operators.text_retrieval import bm25_search

    docs = {
        0: "spark join window spark",
        1: "hash join hash shuffle",
        2: "window agg scan filter spark",
        3: "spark shuffle",
        4: "scan filter agg order",
    }
    ddf = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], schema="doc_id long, text string"
    )
    bags = {7: ["spark", "join"], 8: ["scan", "agg"], 9: ["shuffle"]}
    qdf = spark.createDataFrame(
        list(bags.items()), schema="qid long, terms array<string>"
    )
    got = {
        (r["qid"], r["doc_id"]): (r["score"], r["rank"])
        for r in bm25_search(ddf, qdf, k=10).collect()
    }
    for qid, terms in bags.items():
        want = bm25_rank(ddf, terms).collect()
        for r in want:
            g = got[(qid, r["doc_id"])]
            assert g[0] == pytest.approx(r["score"], rel=1e-12)
            assert g[1] == r["rank"]
    assert len(got) == sum(
        len(bm25_rank(ddf, t).collect()) for t in bags.values()
    )


# ---------- RRF ----------


def test_rrf_fusion_small(spark):
    r1 = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], schema="doc_id long, rank int"
    )
    r2 = spark.createDataFrame(
        [(11, 1), (13, 2)], schema="doc_id long, rank int"
    )
    got = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse([r1, r2]).collect()}
    want = {
        10: 1 / 61,
        11: 1 / 62 + 1 / 61,
        12: 1 / 63,
        13: 1 / 62,
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)
    ranked = rrf_fuse([r1, r2], top_n=2).collect()
    assert [r["doc_id"] for r in ranked] == [11, 10]


def test_bm25_index_artifact_roundtrip(spark, tmp_path):
    """Indexed search == ad-hoc bm25_search, and the artifact survives
    a save/load round-trip (persistence.py generic tables+params)."""
    from vectordb_retrieval_spark.operators.text_retrieval import (
        BM25Indexer,
        BM25Searcher,
        bm25_search,
    )
    from vectordb_retrieval_spark.persistence import load_artifact, save_artifact

    docs = {
        0: "spark join window spark",
        1: "hash join hash shuffle",
        2: "window agg scan filter spark",
        3: "spark shuffle",
        4: "scan filter agg order",
    }
    ddf = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], schema="doc_id long, text string"
    )
    qdf = spark.createDataFrame(
        [(7, ["spark", "join"]), (8, ["scan", "agg"])],
        schema="qid long, terms array<string>",
    )
    art = BM25Indexer().build(ddf)
    key = lambda r: (r["qid"], r["rank"], r["doc_id"], round(r["score"], 12))  # noqa: E731
    want = sorted(map(key, bm25_search(ddf, qdf, k=10).collect()))
    got = sorted(map(key, BM25Searcher().attach(art).search(qdf, 10).collect()))
    assert got == want

    path = str(tmp_path / "bm25_art")
    save_artifact(art, path)
    art2 = load_artifact(spark, path)
    got2 = sorted(
        map(key, BM25Searcher().attach(art2).search(qdf, 10).collect())
    )
    assert got2 == want


def test_hybrid_search_composition(spark):
    """hybrid_search == manual bm25_search + exact_knn + per-query RRF."""
    from vectordb_retrieval_spark.operators.text_retrieval import (
        bm25_search,
        hybrid_search,
        rrf_fuse_by_query,
    )

    rng = np.random.RandomState(5)
    n = 40
    words = ["spark", "join", "scan", "agg", "hash"]
    ddf = spark.createDataFrame(
        [
            (i, " ".join(words[rng.randint(0, 5)] for _ in range(12)))
            for i in range(n)
        ],
        schema="doc_id long, text string",
    )
    edf = make_vector_df(
        spark, rng.randn(n, 6).astype(np.float32), id_name="vec_id",
        vec_name="embedding",
    )
    qdf = spark.createDataFrame(
        [
            (0, ["spark", "join"], [float(x) for x in rng.randn(6)]),
            (1, ["agg"], [float(x) for x in rng.randn(6)]),
        ],
        schema="qid long, terms array<string>, qvec array<float>",
    )
    got = hybrid_search(ddf, edf, qdf, k=5, cand=8).collect()

    lex = bm25_search(ddf, qdf.select("qid", "terms"), k=8)
    dense = exact_knn(
        edf, qdf, 8, "cosine", id_col="vec_id", vec_col="embedding",
        qid_col="qid", qvec_col="qvec",
    ).select("qid", F.col("id").alias("doc_id"), "rank")
    want = rrf_fuse_by_query([lex, dense], top_n=5).collect()

    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["rrf_score"], 12))
        for r in got
    ) == sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["rrf_score"], 12))
        for r in want
    )
    assert len(got) > 0


# ---------- filtered IVF search ----------


@pytest.fixture(scope="module")
def filt_setup(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(400, 8).astype(np.float32)
    cents = rng.randn(6, 8).astype(np.float64)
    bdf = make_vector_df(spark, base).cache()
    bdf.count()
    qdf = make_vector_df(spark, rng.randn(25, 8).astype(np.float32),
                         id_name="qid").cache()
    qdf.count()
    # allowed: every id ≡ 0 or 1 (mod 3) — drops a third of the corpus
    allowed = bdf.filter(F.col("id") % 3 < 2).select("id").cache()
    allowed.count()
    art = FixedCentroidIVFIndexer(cents, metric="l2").build(bdf)
    return bdf, qdf, allowed, art, cents


def _rows(df):
    return sorted(
        (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
        for r in df.collect()
    )


def test_filtered_exhaustive_equals_brute_force(spark, filt_setup):
    bdf, qdf, allowed, art, cents = filt_setup
    res = (
        IVFSearcher(nprobe=len(cents))
        .attach(art)
        .search(qdf, 10, allowed_df=allowed, allowed_id_col="id")
    )
    brute = exact_knn(
        bdf.join(allowed, "id", "left_semi"), qdf, 10, "l2"
    )
    assert _rows(res) == _rows(brute)
    # pre-filter contract: every emitted id satisfies the predicate
    assert res.filter(F.col("id") % 3 >= 2).count() == 0


def test_filtered_same_results_across_physical_plans(spark, filt_setup):
    bdf, qdf, allowed, art, cents = filt_setup
    plans = []
    for thresh, node_local in ((128 << 20, True), (0, True), (0, False)):
        s = IVFSearcher(
            nprobe=3, broadcast_threshold=thresh, node_local_cache=node_local
        ).attach(art)
        plans.append(
            _rows(s.search(qdf, 10, allowed_df=allowed, allowed_id_col="id"))
        )
    assert plans[0] == plans[1] == plans[2]
    assert len(plans[0]) > 0


def test_filtered_full_allowlist_equals_unfiltered(spark, filt_setup):
    bdf, qdf, allowed, art, cents = filt_setup
    s = IVFSearcher(nprobe=3).attach(art)
    full = bdf.select("id")
    assert _rows(
        s.search(qdf, 10, allowed_df=full, allowed_id_col="id")
    ) == _rows(s.search(qdf, 10))


def test_post_filtered_adapter_matches_manual_composition(spark, filt_setup):
    """post_filtered_search over ANY searcher == search k×o, keep
    allowed, re-rank by (dist, id) — verified against the manual
    composition on the IVF searcher (exhaustive, so deterministic)."""
    from vectordb_retrieval_spark.operators.filtered import post_filtered_search

    bdf, qdf, allowed, art, cents = filt_setup
    s = IVFSearcher(nprobe=len(cents)).attach(art)
    got = post_filtered_search(s, qdf, 5, allowed, oversample=4)
    raw = s.search(qdf, 20).join(allowed, "id", "left_semi")
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("dist"), F.col("id"))
    want = (
        raw.withColumn("r2", F.row_number().over(w))
        .filter(F.col("r2") <= 5)
        .select("qid", "id", "dist", F.col("r2").alias("rank"))
    )
    assert _rows(got) == _rows(want)
    # underfill semantics: a 3-id allowlist yields ≤ 3 rows per query
    three = bdf.filter(F.col("id") < 3).select("id")
    res = post_filtered_search(s, qdf, 5, three, oversample=2).collect()
    per_q: dict = {}
    for r in res:
        per_q.setdefault(r["qid"], []).append(r["id"])
    for ids in per_q.values():
        assert len(ids) <= 3 and all(i < 3 for i in ids)


def test_filtered_search_with_sq8_codec(spark, filt_setup):
    """The pre-filter view carries the codec: filtered SQ8 search at
    exhaustive probe equals brute force over the allowed DECODED rows
    (same decode arithmetic as the unfiltered SQ8 oracle paths)."""
    from vectordb_retrieval_spark.operators.quant import SQ8Codec

    bdf, qdf, allowed, _, cents = filt_setup
    art = FixedCentroidIVFIndexer(cents, metric="l2", codec=SQ8Codec()).build(bdf)
    res = (
        IVFSearcher(nprobe=len(cents))
        .attach(art)
        .search(qdf, 10, allowed_df=allowed, allowed_id_col="id")
    )
    rows = res.collect()
    assert len(rows) == 25 * 10
    assert all(r["id"] % 3 < 2 for r in rows)
    # unfiltered search restricted to allowed ids post-hoc must be a
    # SUBSET relationship violation check: pre-filter returns ids the
    # post-filter would miss when disallowed rows crowd the top-k
    unf = IVFSearcher(nprobe=len(cents)).attach(art).search(qdf, 10)
    post = {
        (r["qid"], r["id"]) for r in unf.collect() if r["id"] % 3 < 2
    }
    pre = {(r["qid"], r["id"]) for r in rows}
    assert post <= pre and len(pre) > len(post)


def test_filtered_exact_pushes_predicate_to_scan(spark):
    """filtered_knn_exact's predicate must reach the parquet scan
    (PushedFilters carries label) — the filter prunes candidate rows
    BEFORE they enter the distance kernel, which at 100 TB is the
    difference between scanning the allowed slice and the corpus."""
    from vectordb_retrieval_spark.driver_queries.retrievalq import (
        filtered_knn_exact,
    )

    res = filtered_knn_exact(spark, "/root/testdata/sf0.001")
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan, plan
    pushed = plan.split("PushedFilters:", 1)[1].split("]", 1)[0]
    assert "label" in pushed, plan


def test_filtered_selective_allowlist_underfills_not_crashes(spark, filt_setup):
    bdf, qdf, allowed, art, cents = filt_setup
    three = bdf.filter(F.col("id") < 3).select("id")
    res = (
        IVFSearcher(nprobe=len(cents))
        .attach(art)
        .search(qdf, 10, allowed_df=three, allowed_id_col="id")
    )
    rows = res.collect()
    # ≤3 allowed rows exist → ≤3 results per query, all allowed
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r["id"])
    for ids in per_q.values():
        assert len(ids) <= 3
        assert all(i < 3 for i in ids)
    assert len(per_q) == 25


def test_global_rank_distributed_matches_window(spark):
    """The top_n=None full-rank path (global_rank: per-partition
    row_number + cumulative offsets) must equal the single-window rank
    across a genuinely multi-partition sort."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from vectordb_retrieval_spark.operators.text_retrieval import global_rank

    df = (
        spark.range(0, 5000)
        .withColumn("score", (F.col("id") * 2654435761 % 997).cast("double"))
        .withColumn("doc_id", F.col("id"))
        .repartition(16)
        .select("doc_id", "score")
    )
    order = [F.col("score").desc(), F.col("doc_id")]
    got = global_rank(df, order)
    # the plan must contain NO un-partitioned window: every
    # windowspecdefinition carries the _pid partition key (AQE may
    # still coalesce this tiny shuffle, so pin the plan, not the
    # physical partition count)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    specs = [
        seg for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs and all(s.startswith("_pid") for s in specs), plan
    w = Window.orderBy(*order)
    want = df.select(
        "doc_id", F.row_number().over(w).cast("int").alias("rank")
    )
    assert got.select("doc_id", "rank").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("doc_id", "rank")).count() == 0


def test_bm25_append_equals_rebuild(spark):
    """Incremental postings ingestion must be BIT-identical to a full
    rebuild: same postings row set, same integer corpus totals, same
    scores and ranks from the searcher."""
    import pyspark.sql.functions as F

    from vectordb_retrieval_spark.operators.text_retrieval import (
        BM25Indexer,
        BM25Searcher,
        bm25_append,
    )

    rows = [(i, f"w{i % 7} w{i % 3} common w{i % 11}") for i in range(90)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = BM25Indexer().build(docs)
    part = BM25Indexer().build(docs.filter(F.col("doc_id") % 3 == 0))
    for b in (1, 2):
        part = bm25_append(part, docs.filter(F.col("doc_id") % 3 == b))
    assert part.params["n_docs"] == full.params["n_docs"]
    assert part.params["sum_dl"] == full.params["sum_dl"]
    assert part.params["avgdl"] == full.params["avgdl"]  # bit-equal
    assert (
        part.tables["postings"].exceptAll(full.tables["postings"]).count()
        == 0
    )
    assert (
        full.tables["postings"].exceptAll(part.tables["postings"]).count()
        == 0
    )
    qdf = spark.createDataFrame(
        [(0, ["common", "w1"]), (1, ["w2", "w10"])],
        "qid long, terms array<string>",
    )
    got = BM25Searcher().attach(part).search(qdf, k=8).collect()
    want = BM25Searcher().attach(full).search(qdf, k=8).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_split_dataset_disjoint_complete_deterministic(spark):
    import pyspark.sql.functions as F

    from vectordb_retrieval_spark.operators.sampling import split_dataset

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = split_dataset(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=4)
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == 1000  # complete (and disjoint: 1 row each)
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert 700 < counts["train"] < 900  # loose Bernoulli band
    again = split_dataset(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=4)
    assert out.exceptAll(again).count() == 0  # retry-stable
    moved = split_dataset(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=5)
    assert out.exceptAll(moved).count() > 0  # seed matters


def test_bm25_degenerate_and_tricky_terms(spark):
    """r14 admission regex: terms that can never equal a token (empty,
    whitespace-containing) contribute nothing and must not admit rows;
    substring occurrences must not match; regex metacharacters in terms
    are literal-quoted."""
    docs = {
        0: "sparkling water",          # 'spark' only as a substring
        1: "spark water",              # whole-token 'spark'
        2: "a+b c",                    # regex metachars as a token
        3: "tab\tspark",               # tab-delimited token
    }
    df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], schema="doc_id long, text string"
    )
    got = {r["doc_id"] for r in bm25_rank(df, ["spark"]).collect()}
    assert got == {1, 3}  # substring doc 0 excluded, tab token found
    # metachar term matches its literal token only
    got2 = {r["doc_id"] for r in bm25_rank(df, ["a+b"]).collect()}
    assert got2 == {2}
    # degenerate terms alone -> empty result (no term can match a token)
    assert bm25_rank(df, ["", "two words"]).count() == 0
    # degenerate terms mixed with a real one behave as if absent
    want = {
        r["doc_id"]: r["score"] for r in bm25_rank(df, ["spark"]).collect()
    }
    mixed = {
        r["doc_id"]: r["score"]
        for r in bm25_rank(df, ["spark", "", "two words"]).collect()
    }
    assert mixed == want


def test_bm25_rank_rejects_streaming_docs(spark, tmp_path):
    """The corpus statistics are one eager job at construction, which
    cannot run on a stream: the guard names the contract instead of
    Spark's 'queries with streaming sources' error."""
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path)
    )
    with pytest.raises(ValueError, match="eagerly"):
        bm25_rank(stream, ["spark"])


def test_term_match_pattern_edges():
    from vectordb_retrieval_spark.operators.text_retrieval import (
        _term_match_pattern,
    )

    assert _term_match_pattern([]) is None
    assert _term_match_pattern(["", " ", "a b", "a\tb"]) is None
    p = _term_match_pattern(["x", "x", "y"])  # deduped
    assert p.count("\\Qx\\E") == 1 and "\\Qy\\E" in p
