"""Record real serving-run repeat timings for the latency-stats slot.

Runs the reference-matched random workload (20k x 64-d, 2048 queries,
k=20, L2) through two searchers — exact and IVF256+SQ8 nprobe=24 — with
warm plans, times R full serving repeats of each, and writes the
recorded walls to ``bench_artifacts/serving_latency_timings.parquet``
(one pyarrow file, committed as the round's timing evidence).

The ``serving_latency_stats`` catalogue query then derives the
per-query latency distribution (mean/p50/p95/p99, reference
wall-clock-divided-batch semantics — experiment_runner.py:434-437)
from this recording with engine arithmetic, and the DuckDB oracle
re-derives it from the SAME file — so the stats arithmetic is
hash-checked end to end while the timings stay honest wall-clock
measurements (re-run this script to refresh them).

Usage: python scripts/record_serving_latency.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectordb_retrieval_spark.operators.exact import exact_knn
    from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher
    from vectordb_retrieval_spark.operators.quant import SQ8Codec
    from vectordb_retrieval_spark.session import get_spark
    from vectordb_retrieval_spark.sources.random_gen import random_vectors

    spark = get_spark("record-serving-latency")

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    n_base, n_q, k = 20_000, 2048, 20
    base = random_vectors(spark, n_base, 64, seed=7).cache()
    materialize(base)
    q = random_vectors(spark, n_q, 64, seed=7, stream=2, id_col="qid").cache()
    q.count()

    art = IVFIndexer(
        nlist=256, seed=7, max_iter=10, init_mode="k-means||", codec=SQ8Codec()
    ).build(base, id_col="id", vec_col="vec")
    materialize(art.tables["packed"])
    sq8 = IVFSearcher(nprobe=24).attach(art)

    runs = {
        "exact": lambda: materialize(
            exact_knn(base, q, k, "l2", qid_col="qid", qvec_col="vec")
        ),
        "ivf_sq8_nprobe24": lambda: materialize(
            sq8.search(q, k, qid_col="qid", vec_col="vec").select("qid", "id")
        ),
    }

    rows: list[tuple[str, int, int, float]] = []
    for name, fn in runs.items():
        fn()  # warm: plan build + query broadcast belong to attach/build
        for rep in range(reps):
            t0 = time.time()
            fn()
            rows.append((name, rep, n_q, time.time() - t0))

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_artifacts",
    )
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, "serving_latency_timings.parquet")
    table = pa.table(
        {
            "algorithm": pa.array([r[0] for r in rows], pa.string()),
            "rep": pa.array([r[1] for r in rows], pa.int64()),
            "n_queries": pa.array([r[2] for r in rows], pa.int64()),
            "wall_s": pa.array([round(r[3], 6) for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, out_path)
    print(f"wrote {len(rows)} timing rows -> {out_path}")
    for r in rows:
        print(r)


if __name__ == "__main__":
    main()
