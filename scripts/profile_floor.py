"""Decompose the 65k-query serving wall: JVM-only job floor, python
identity floor, driver-side kernel time, and the full search wall —
the numbers that decide where the next 0.05 s comes from."""

from __future__ import annotations

import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")


def main() -> int:
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher
    from vectordb_retrieval_spark.operators.quant import SQ8Codec
    from vectordb_retrieval_spark.operators.serving import search_batch
    from vectordb_retrieval_spark.session import get_spark
    from vectordb_retrieval_spark.sources.random_gen import random_vectors

    spark = get_spark("profile-floor")

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    def tmin(fn, reps=6):
        ts = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        return min(ts), sorted(ts)[len(ts) // 2]

    base = random_vectors(spark, 20_000, 64, seed=7).cache()
    base.count()
    art = IVFIndexer(
        nlist=256, seed=7, max_iter=10, init_mode="k-means||", codec=SQ8Codec()
    ).build(base, id_col="id", vec_col="vec")
    materialize(art.tables["assignment"])

    q16 = random_vectors(spark, 16_384, 64, seed=7, stream=5, id_col="qid").cache()
    q16.count()
    big = q16
    for j in range(1, 4):
        big = big.union(
            q16.select((F.col("qid") + 1_000_000 * j).alias("qid"), "vec")
        )
    big = big.repartition(32).cache()
    big.count()

    # A. JVM-only job floor: scan the cached 65k frame, no python stage
    materialize(big.select("qid"))
    t_jvm, t_jvm_med = tmin(lambda: materialize(big.select("qid")))
    print(f"A jvm-only noop scan:       min {t_jvm:.3f}  med {t_jvm_med:.3f}")

    # B. python identity floor (one mapInArrow stage)
    def ident():
        materialize(
            big.mapInArrow(lambda it: it, schema="qid long, vec array<float>")
        )

    ident()
    t_py, t_py_med = tmin(ident)
    print(f"B python identity floor:    min {t_py:.3f}  med {t_py_med:.3f}")

    # B2. python identity floor with TINY rows (isolate data-volume cost)
    tiny = spark.range(65_536).select(F.col("id").alias("qid")).repartition(32).cache()
    tiny.count()

    def ident_tiny():
        materialize(tiny.mapInArrow(lambda it: it, schema="qid long"))

    ident_tiny()
    t_pt, t_pt_med = tmin(ident_tiny)
    print(f"B2 tiny identity floor:     min {t_pt:.3f}  med {t_pt_med:.3f}")

    # C. driver-side kernel time for ONE 2048-query task body
    searcher = IVFSearcher(nprobe=24).attach(art)
    materialize(searcher.search(big, 20, qid_col="qid", vec_col="vec"))
    idx = art.params["_serving_bc"].bc.value
    qpdf = q16.limit(2048).toPandas()
    qids = qpdf["qid"].to_numpy(np.int64)
    qmat = np.ascontiguousarray(np.vstack(qpdf["vec"].to_numpy()), dtype=np.float32)
    idx.packed_scan("l2")  # warm decode cache
    t0 = time.time()
    for _ in range(5):
        search_batch(idx, qids, qmat, 24, 20, "l2")
    t_kern = (time.time() - t0) / 5
    print(f"C kernel per 2048q task:    {t_kern:.3f}")

    # D. full search wall at 65k
    def srch():
        materialize(
            searcher.search(big, 20, qid_col="qid", vec_col="vec").select(
                "qid", "id"
            )
        )

    t_s, t_s_med = tmin(srch, reps=8)
    print(f"D search wall 65k:          min {t_s:.3f}  med {t_s_med:.3f}  "
          f"QPS {65536 / t_s:.0f}")

    # E. search wall with result column pruned INSIDE (qid only noop)
    def srch_all():
        materialize(searcher.search(big, 20, qid_col="qid", vec_col="vec"))

    t_sa, _ = tmin(srch_all, reps=4)
    print(f"E search wall (all cols):   min {t_sa:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
