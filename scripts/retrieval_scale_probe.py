"""Filtered IVF at scale: a label predicate keeping 1/4 of a
150k×384-d clustered corpus, searched through the pre-filter mask.
Reports filtered vs unfiltered QPS and verifies the pre-filter
contract (exhaustive-probe filtered search ≡ brute force over the
allowed slice on a 20k sample).  bench.py's scale block times the
filtered row at selectivity-scaled nprobe (``s150k_sq8f_1k``); this
probe adds the contract check.  (The BM25 and hybrid points at corpus
scale are bench.py scale-curve rows, ``SPARK_GRAFT_CURVE_BM25_N``.)

    python scripts/retrieval_scale_probe.py [n_base]
"""

import json
import sys
import time

sys.path.insert(0, ".")

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from vectordb_retrieval_spark.session import get_spark  # noqa: E402


def filtered_probe(spark, n_base: int, dim: int = 384) -> dict:
    from vectordb_retrieval_spark.operators.exact import exact_knn
    from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher
    from vectordb_retrieval_spark.operators.quant import SQ8Codec
    from vectordb_retrieval_spark.sources.random_gen import clustered_vectors

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    base = clustered_vectors(
        spark, n_base, dim, n_clusters=64, seed=11
    ).cache()
    base.count()
    queries = clustered_vectors(
        spark, 1024, dim, n_clusters=64, seed=11, stream=3, id_col="qid"
    ).repartition(32).cache()
    queries.count()
    # label = id % 4; the filter keeps label 0 — a 25% slice
    allowed = base.filter(F.col("id") % 4 == 0).select("id").cache()
    allowed.count()

    art = IVFIndexer(
        nlist=int(np.sqrt(n_base) * 2), seed=11, max_iter=10,
        init_mode="k-means||", metric="cosine", codec=SQ8Codec(),
    ).build(base)
    s = IVFSearcher(nprobe=10)
    s.attach(art)

    materialize(s.search(queries, 10))
    t0 = time.time()
    materialize(s.search(queries, 10))
    t_unf = time.time() - t0

    materialize(s.search(queries, 10, allowed_df=allowed))
    t0 = time.time()
    materialize(s.search(queries, 10, allowed_df=allowed))
    t_f = time.time() - t0

    # contract check on a 20k sample: exhaustive filtered ≡ brute force
    sample = base.filter(F.col("id") < 20_000).cache()
    sample.count()
    art_s = IVFIndexer(
        nlist=64, seed=11, max_iter=5, init_mode="k-means||", metric="cosine"
    ).build(sample)
    allowed_s = sample.filter(F.col("id") % 4 == 0).select("id")
    qs_s = queries.limit(64).cache()
    qs_s.count()
    got = (
        IVFSearcher(nprobe=10_000)
        .attach(art_s)
        .search(qs_s, 10, allowed_df=allowed_s)
        .select("qid", "id", "rank")
    )
    want = exact_knn(
        sample.filter(F.col("id") % 4 == 0), qs_s, 10, "cosine"
    ).select("qid", "id", "rank")
    eq = sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    return {
        "filt_n_base": n_base,
        "filt_dim": dim,
        "filt_qps_unfiltered_1024q": round(1024 / t_unf, 1),
        "filt_qps_filtered_1024q": round(1024 / t_f, 1),
        "filt_selectivity": 0.25,
        "filt_contract_exact_match": bool(eq),
    }


def main() -> int:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    spark = get_spark("retrieval_scale_probe", master="local[32]")
    print(json.dumps(filtered_probe(spark, n_base)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
