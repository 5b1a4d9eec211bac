"""Metrics suite vs hand-computed values (reference: metrics.py tests semantics)."""

from __future__ import annotations

import math

import pytest


def make_ranked(spark, rows):
    return spark.createDataFrame(rows, schema="qid long, id long, rank int")


def test_perfect_prediction_is_all_ones(spark):
    from vectordb_retrieval_spark.metrics import retrieval_metrics

    gt = make_ranked(spark, [(0, 10, 1), (0, 11, 2), (1, 20, 1), (1, 21, 2)])
    m = retrieval_metrics(gt, gt, 2).collect()[0]
    assert m["recall"] == 1.0 and m["precision"] == 1.0
    assert m["map"] == pytest.approx(1.0)
    assert m["ndcg"] == pytest.approx(1.0)
    assert m["hit_rate"] == 1.0 and m["mrr"] == 1.0
    assert m["n_queries"] == 2


def test_hand_computed_case(spark):
    from vectordb_retrieval_spark.metrics import retrieval_metrics

    # q0: pred [10, 99, 11] vs gt {10,11,12}: hits at ranks 1,3
    # q1: pred [98, 97, 96] vs gt {20,21,22}: no hits
    gt = make_ranked(
        spark,
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1), (1, 21, 2), (1, 22, 3)],
    )
    pred = make_ranked(
        spark, [(0, 10, 1), (0, 99, 2), (0, 11, 3), (1, 98, 1), (1, 97, 2), (1, 96, 3)]
    )
    m = retrieval_metrics(pred, gt, 3).collect()[0]
    assert m["recall"] == pytest.approx((2 / 3 + 0) / 2)
    assert m["precision"] == pytest.approx((2 / 3 + 0) / 2)
    # q0 AP = (1/1 + 2/3) / 3
    assert m["map"] == pytest.approx(((1 + 2 / 3) / 3) / 2)
    dcg0 = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert m["ndcg"] == pytest.approx((dcg0 / idcg) / 2)
    assert m["hit_rate"] == 0.5
    assert m["mrr"] == pytest.approx((1 + 0) / 2)


def test_missing_query_counts_as_zero(spark):
    from vectordb_retrieval_spark.metrics import retrieval_metrics

    gt = make_ranked(spark, [(0, 1, 1), (1, 2, 1)])
    pred = make_ranked(spark, [(0, 1, 1)])  # q1 absent from predictions
    m = retrieval_metrics(pred, gt, 1).collect()[0]
    assert m["n_queries"] == 2
    assert m["recall"] == 0.5
    assert m["hit_rate"] == 0.5


def test_deep_gt_full_set_semantics(spark):
    """Reference parity (src/benchmark/metrics.py): with GT deeper than
    k, only recall truncates GT at k — precision/MAP/NDCG/hit_rate/MRR
    mark hits against the FULL GT set."""
    from vectordb_retrieval_spark.metrics import (
        retrieval_metrics,
        retrieval_metrics_multi,
    )

    gt = make_ranked(spark, [(0, 10, 1), (0, 11, 2), (0, 12, 3)])
    pred = make_ranked(spark, [(0, 11, 1)])  # in full GT, not in gt@1
    m = retrieval_metrics(pred, gt, 1).collect()[0]
    assert m["recall"] == 0.0  # gt@1 = {10}
    assert m["precision"] == 1.0  # full GT hit / k
    assert m["map"] == pytest.approx(1 / 3)  # (1/1) / |gt_full|
    assert m["ndcg"] == pytest.approx(1.0)  # dcg=1, idcg(min(3,1))=1
    assert m["hit_rate"] == 1.0 and m["mrr"] == 1.0

    rows = {r["k"]: r for r in retrieval_metrics_multi(pred, gt, [1]).collect()}
    assert rows[1]["recall"] == 0.0 and rows[1]["precision"] == 1.0
    assert rows[1]["map"] == pytest.approx(1 / 3)


def test_multi_k_sweep(spark):
    from vectordb_retrieval_spark.metrics import retrieval_metrics_multi

    gt = make_ranked(spark, [(0, 1, 1), (0, 2, 2)])
    pred = make_ranked(spark, [(0, 2, 1), (0, 1, 2)])
    rows = {r["k"]: r for r in retrieval_metrics_multi(pred, gt, [1, 2]).collect()}
    assert rows[1]["recall"] == 0.0  # top-1 pred (id 2) not in top-1 gt (id 1)
    assert rows[2]["recall"] == 1.0


@pytest.mark.parametrize("labeled", [False, True], ids=["generic", "labeled"])
def test_duplicate_gt_id_takes_lowest_rank(spark, labeled):
    """A ground-truth id listed twice matches at its LOWEST rank,
    whatever order the rows reach the per-query collect: here one
    partition holds the rank-2 duplicate first, so an unsorted gt list
    would judge the top-1 prediction outside gt@1."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.metrics import (
        retrieval_metrics_multi,
        retrieval_metrics_multi_labeled,
    )

    gt = make_ranked(spark, [(0, 5, 2), (0, 5, 1)])
    pred = make_ranked(spark, [(0, 5, 1)])
    if labeled:
        ranked = (
            gt.withColumn("which", F.lit(0))
            .unionByName(pred.withColumn("which", F.lit(1)))
            .coalesce(1)
        )
        rows = retrieval_metrics_multi_labeled(ranked, [1]).collect()
    else:
        rows = retrieval_metrics_multi(pred, gt.coalesce(1), [1]).collect()
    assert rows[0]["recall"] == 1.0

def test_serving_latency_stats_matches_numpy(spark):
    """serving_latency_stats ≡ the reference arithmetic: per-query
    times = wall/n per repeat (experiment_runner.py:434-437), stats =
    numpy mean/percentile over the concatenated distribution
    (metrics.py:222-234), qps = total queries / total wall."""
    import numpy as np

    from vectordb_retrieval_spark.metrics import serving_latency_stats

    rows = [
        ("a", 0, 4, 0.40),
        ("a", 1, 4, 0.62),
        ("a", 2, 4, 0.51),
        ("b", 0, 3, 0.09),
        ("b", 1, 3, 0.15),
    ]
    df = spark.createDataFrame(
        rows, "algorithm string, rep long, n_queries long, wall_s double"
    )
    got = {
        r["algorithm"]: r for r in serving_latency_stats(df).collect()
    }
    for algo in ("a", "b"):
        walls = [w for a, _, _, w in rows if a == algo]
        n = next(nq for a, _, nq, _ in rows if a == algo)
        per = np.repeat([1000.0 * w / n for w in walls], n)
        r = got[algo]
        assert r["n"] == len(per)
        assert r["mean_ms"] == pytest.approx(float(np.mean(per)), abs=1e-6)
        assert r["p50_ms"] == pytest.approx(
            float(np.percentile(per, 50)), abs=1e-6
        )
        assert r["p95_ms"] == pytest.approx(
            float(np.percentile(per, 95)), abs=1e-6
        )
        assert r["p99_ms"] == pytest.approx(
            float(np.percentile(per, 99)), abs=1e-6
        )
        assert r["min_ms"] == pytest.approx(float(per.min()), abs=1e-6)
        assert r["max_ms"] == pytest.approx(float(per.max()), abs=1e-6)
        assert r["qps"] == pytest.approx(len(per) / sum(walls), abs=1e-6)


def test_serving_latency_recorded_artifact(spark):
    """The committed timing recording behind the serving_latency_stats
    catalogue slot: real wall-clock repeats (all positive, ≥2 reps per
    algorithm) with the batch size the recorder pins, and the catalogue
    query computes over it without error."""
    import os

    from vectordb_retrieval_spark.driver_queries.metricsq import (
        TIMINGS_PATH,
        serving_latency,
    )

    assert os.path.exists(TIMINGS_PATH)
    t = spark.read.parquet(TIMINGS_PATH)
    pdf = t.toPandas()
    assert (pdf["wall_s"] > 0).all()
    assert (pdf["n_queries"] == 2048).all()
    assert pdf.groupby("algorithm")["rep"].count().min() >= 2
    stats = {r["algorithm"]: r for r in serving_latency(spark, "").collect()}
    assert set(stats) == set(pdf["algorithm"])
    for r in stats.values():
        assert r["min_ms"] > 0 and r["p50_ms"] <= r["p95_ms"] <= r["p99_ms"]
        assert r["qps"] > 0


def test_serving_welch_t_frame_matches_welch_t(spark):
    """The distributed Welch frame ≡ sweep.welch_t (t statistic and
    Welch-Satterthwaite dof) on the same walls."""
    from vectordb_retrieval_spark.metrics import serving_welch_t_frame
    from vectordb_retrieval_spark.sweep import welch_t

    xs = [0.40, 0.62, 0.51, 0.47]
    ys = [0.09, 0.15, 0.11]
    rows = [("a", i, 4, w) for i, w in enumerate(xs)] + [
        ("b", i, 3, w) for i, w in enumerate(ys)
    ]
    df = spark.createDataFrame(
        rows, "algorithm string, rep long, n_queries long, wall_s double"
    )
    r = serving_welch_t_frame(df).collect()
    assert len(r) == 1
    t, dof, _p = welch_t(xs, ys)
    assert r[0]["algorithm_a"] == "a" and r[0]["algorithm_b"] == "b"
    assert r[0]["n_a"] == 4 and r[0]["n_b"] == 3
    assert r[0]["t_stat"] == pytest.approx(t, abs=1e-6)
    assert r[0]["dof"] == pytest.approx(dof, abs=1e-6)
    assert r[0]["mean_a_s"] == pytest.approx(sum(xs) / 4, abs=1e-6)


def test_ranking_spearman(spark):
    """Hand-checked truncated-list Spearman: identical lists ⇒ 1.0;
    one swap + one substitution at k=3 ⇒ 0.4 (union n=4, Σd²=6);
    disjoint lists ⇒ non-positive."""
    from vectordb_retrieval_spark.metrics import ranking_spearman

    a = make_ranked(
        spark,
        [(0, 10, 1), (0, 11, 2), (0, 12, 3),
         (1, 20, 1), (1, 21, 2), (1, 22, 3),
         (2, 30, 1), (2, 31, 2)],
    )
    b = make_ranked(
        spark,
        [(0, 10, 1), (0, 12, 2), (0, 13, 3),
         (1, 20, 1), (1, 21, 2), (1, 22, 3),
         (2, 40, 1), (2, 41, 2)],
    )
    rows = {r["qid"]: r for r in ranking_spearman(a, b, 3).collect()}
    # qid 0: union {10,11,12,13} -> ranks a(1,2,3,4) vs b(1,4,2,3),
    # d2 = 0+4+1+1 = 6, rho = 1 - 36/(4*15) = 0.4
    assert rows[0]["n"] == 4 and rows[0]["rho"] == pytest.approx(0.4)
    assert rows[1]["rho"] == pytest.approx(1.0)
    assert rows[2]["rho"] <= 0.0


def test_latency_stats(spark):
    from vectordb_retrieval_spark.metrics import latency_stats

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "t double")
    r = latency_stats(df, "t").collect()[0]
    assert r["n"] == 100 and r["min"] == 1.0 and r["max"] == 100.0
    assert r["mean"] == pytest.approx(50.5)
    assert r["p50"] == pytest.approx(50.5)
    assert r["p95"] == pytest.approx(95.05)


def test_labeled_sweep_matches_generic(spark):
    """retrieval_metrics_multi_labeled (one-groupBy fused tail, r14)
    must equal the generic pred/gt form — including a query with gt but
    ZERO predicted rows (counts as zeros) and a pred id absent from
    gt."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.metrics import (
        retrieval_metrics_multi,
        retrieval_metrics_multi_labeled,
    )

    gt_rows = [(0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 9, 1), (2, 5, 1), (2, 6, 2)]
    pred_rows = [(0, 2, 1), (0, 7, 2), (0, 1, 3), (2, 6, 1), (2, 8, 2)]
    gt = make_ranked(spark, gt_rows)
    pred = make_ranked(spark, pred_rows)
    labeled = make_ranked(
        spark, pred_rows
    ).withColumn("which", F.lit(1)).unionByName(
        make_ranked(spark, gt_rows).withColumn("which", F.lit(0))
    )
    for ks in ([1, 2, 3], [2]):
        a = [tuple(r) for r in retrieval_metrics_multi(pred, gt, ks).collect()]
        b = [
            tuple(r)
            for r in retrieval_metrics_multi_labeled(labeled, ks).collect()
        ]
        assert a == b
        # qid 1 (no pred rows) still counts: n_queries = 3 at every k
        assert all(r[1] == 3 for r in a)


def test_metric_means_do_not_depend_on_partitioning(spark):
    """The same pred/gt rows under two partitionings give bit-equal
    metric rows: the per-k means are exact sums, not float additions in
    partition order."""
    import random

    from vectordb_retrieval_spark.metrics import retrieval_metrics_multi

    rng = random.Random(5)
    gt_rows, pred_rows = [], []
    for q in range(600):
        gt_rows += [(q, q * 100 + i, i + 1) for i in range(7)]
        ids = rng.sample(range(q * 100, q * 100 + 12), 7)
        pred_rows += [(q, x, r + 1) for r, x in enumerate(ids)]
    gt, pred = make_ranked(spark, gt_rows), make_ranked(spark, pred_rows)
    runs = [
        [
            tuple(r)
            for r in retrieval_metrics_multi(
                pred.repartition(n, "id"), gt.repartition(m), [1, 3, 7]
            ).collect()
        ]
        for n, m in ((1, 1), (7, 5), (13, 3))
    ]
    assert runs[0] == runs[1] == runs[2]


def test_labeled_single_k_matches_retrieval_metrics(spark):
    """The at-10 slot's labeled fast path: multi-labeled at one cutoff
    equals the classic retrieval_metrics frame."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.metrics import (
        retrieval_metrics,
        retrieval_metrics_multi_labeled,
    )

    gt_rows = [(0, 1, 1), (0, 2, 2), (1, 4, 1)]
    pred_rows = [(0, 2, 1), (0, 3, 2), (1, 4, 1)]
    labeled = make_ranked(
        spark, pred_rows
    ).withColumn("which", F.lit(1)).unionByName(
        make_ranked(spark, gt_rows).withColumn("which", F.lit(0))
    )
    a = [
        tuple(r)
        for r in retrieval_metrics(
            make_ranked(spark, pred_rows), make_ranked(spark, gt_rows), 2
        ).collect()
    ]
    b = [tuple(r) for r in retrieval_metrics_multi_labeled(labeled, [2]).collect()]
    assert a == b


def test_fused_pred_gt_boundary_ties_resolve_by_id(spark, tmp_path, monkeypatch):
    """The fused metrics kernel (one scan, gt + truncated pred views)
    and its past-gate ``exact_knn`` fallback keep the (dist, id) top-K
    under total ties: identical vectors with shuffled ids over several
    partitions must rank ids 0..K-1 for every query, on both paths."""
    import numpy as np

    from vectordb_retrieval_spark.driver_queries import metricsq
    from vectordb_retrieval_spark.driver_queries.common import K
    from vectordb_retrieval_spark.functions import kernels as K_mod

    ids = np.random.RandomState(12).permutation(400)
    vec = [0.5, -1.0, 2.0, 0.25] * 3
    spark.createDataFrame(
        [(int(i), vec) for i in ids], "vec_id long, embedding array<float>"
    ).repartition(3).write.parquet(str(tmp_path / "embeddings.parquet"))
    want = [(q, i, i + 1) for q in range(0, 400, 10) for i in range(K)]

    def ranked(frame):
        return [
            (r["qid"], r["id"], r["rank"])
            for r in frame.orderBy("qid", "rank").collect()
        ]

    fused, pred, gt = metricsq._pred_gt_labeled(spark, str(tmp_path))
    assert fused is not None
    assert ranked(pred) == want and ranked(gt) == want
    # 40 queries past a 39-row gate: the two-plan exact_knn fallback
    monkeypatch.setattr(K_mod, "QUERY_BC_MAX_ROWS", 39)
    fallback, pred, gt = metricsq._pred_gt_labeled(spark, str(tmp_path))
    assert fallback is None
    assert ranked(pred) == want and ranked(gt) == want
