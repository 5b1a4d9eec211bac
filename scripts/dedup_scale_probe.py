"""Standalone dedup-at-scale probe: the MinHash+LSH near-dup pipeline
(signatures -> band buckets -> candidate pairs -> exact-Jaccard verify)
over bench.py's distributed dedup corpus (``synth_dedup_docs``).

Planted structure: docs with id % 20 == 7 are near-duplicates of
id - 7 (same 80 words + 3 extra), everything else is unique.  The
probe times the full verified pipeline and reports planted-pair recall
at the verify threshold — the correctness-at-scale signal — plus the
docs/sec rate.  bench.py's scale-curve block takes the same verified
point, and the pack / scrub rates of ``--pipeline``, at
``SPARK_GRAFT_CURVE_DEDUP_N``; this probe adds ``--decontam``, the
export shuffle, the composed curation pipeline and the embedding
near-dup point.

    python scripts/dedup_scale_probe.py [n_docs]
"""

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from bench import synth_dedup_docs as synth_docs  # noqa: E402
from vectordb_retrieval_spark.session import get_spark  # noqa: E402


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark("dedup_scale_probe", master="local[32]")

    from vectordb_retrieval_spark.operators.dedup import minhash_verified_pairs

    docs = synth_docs(spark, n_docs).repartition(32).cache()
    docs.count()  # materialize generation outside the timed window

    if "--pipeline-only" in sys.argv:
        sys.argv.append("--pipeline")
        _run_pipeline_block(spark, docs, n_docs)
        return 0

    t0 = time.time()
    pairs = minhash_verified_pairs(
        docs, threshold=0.7, n_perm=64, bands=16, shingle_n=3
    ).cache()
    n_pairs = pairs.count()
    wall = time.time() - t0

    planted = pairs.where(
        (F.col("b") - F.col("a") == 7) & (F.col("b") % 20 == 7)
    ).count()
    n_planted = docs.where(
        (F.col("doc_id") % 20 == 7) & (F.col("doc_id") >= 7)
    ).count()
    print(
        "DEDUP_SCALE_PROBE "
        + json.dumps(
            {
                "n_docs": n_docs,
                "wall_s": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                "verified_pairs": n_pairs,
                "planted_pairs": n_planted,
                "planted_found": planted,
                "planted_recall": round(planted / max(n_planted, 1), 4),
            },
            sort_keys=True,
        )
    )

    if "--decontam" in sys.argv:
        # Decontamination at the same corpus size: docs with
        # id % 100 == 0 form the held-out benchmark (n_docs/100 docs —
        # the "1M train × 10k bench" shape), everything else is train.
        # Planted structure doubles as the contamination oracle: every
        # bench doc b has near-dup train doc b+7 (b % 20 == 0 always
        # holds for b % 100 == 0), sharing ~all shingles — so pair
        # (b+7, b) must be flagged.  Timed with the hot-gram cap OFF
        # and ON (cap = 5 bench-doc df) to measure the skew guard's
        # cost/benefit at scale.
        from vectordb_retrieval_spark.operators.textops import decontam_overlap

        out = {"n_docs": n_docs, "n_bench": n_docs // 100}
        for label, cap in (("cap_off", None), ("cap_5", 5)):
            t0 = time.time()
            dec = decontam_overlap(
                docs, n=3, min_shared=2, bench_mod=100,
                max_bench_gram_df=cap,
            ).cache()
            n_flagged = dec.count()
            w = time.time() - t0
            hits = dec.where(
                (F.col("train_id") - F.col("bench_id") == 7)
            ).count()
            out[f"{label}_wall_s"] = round(w, 2)
            out[f"{label}_docs_per_sec"] = round(n_docs / w, 1)
            out[f"{label}_flagged_pairs"] = n_flagged
            # one planted pair (b+7, b) per bench doc b (b+7 < n_docs
            # holds for every multiple of 100 below n_docs when n >= 8)
            out[f"{label}_planted_hit_rate"] = round(
                hits / max(n_docs // 100, 1), 4
            )
            dec.unpersist()
        print("DECONTAM_SCALE_PROBE " + json.dumps(out, sort_keys=True))

    if "--pipeline" in sys.argv:
        _run_pipeline_block(spark, docs, n_docs)
    return 0


def _run_pipeline_block(spark, docs, n_docs: int) -> None:
    # The round-8 training-pipeline surface at the same corpus
    # size: concat-and-chunk sequence packing (budget 2048 tokens,
    # 256 shards), PII scrub (pattern counts over the full text),
    # and the seed-reproducible shuffle into export shards.  Each
    # is a narrow projection or a shard-partitioned window, so the
    # probe checks the claim that throughput holds (or rises) with
    # corpus size.
    from vectordb_retrieval_spark.operators.packing import (
        pack_spans,
        shuffle_shards,
    )
    from vectordb_retrieval_spark.operators.scrub import pii_stats

    out = {"n_docs": n_docs}
    t0 = time.time()
    spans = pack_spans(docs, budget=2048, n_shards=256)
    n_spans = spans.count()
    w = time.time() - t0
    out["pack_wall_s"] = round(w, 2)
    out["pack_docs_per_sec"] = round(n_docs / w, 1)
    out["pack_spans"] = n_spans

    t0 = time.time()
    stats = pii_stats(docs).collect()[0]
    w = time.time() - t0
    out["scrub_wall_s"] = round(w, 2)
    out["scrub_docs_per_sec"] = round(n_docs / w, 1)
    # synthetic corpus carries no PII: the counts double as a
    # false-positive check on the patterns at scale
    out["scrub_docs_with_pii"] = stats["docs_with_pii"]

    t0 = time.time()
    shards = shuffle_shards(docs, 512, seed=11).select(
        "doc_id", "shard", "pos"
    )
    n_rows = shards.count()
    w = time.time() - t0
    out["shuffle_wall_s"] = round(w, 2)
    out["shuffle_docs_per_sec"] = round(n_docs / w, 1)
    assert n_rows == n_docs
    print("PIPELINE_SCALE_PROBE " + json.dumps(out, sort_keys=True))

    # The COMPOSED curation pipeline at the same corpus size:
    # scrub → quality gate → dedup keepers → split → greedy packing
    # (the pipeline_curate_corpus shape: one scan + two shuffles,
    # operators/curate.py).  Throughput of the composition, not the
    # stages — window keys and carried columns included.
    from vectordb_retrieval_spark.operators.curate import curate_corpus

    # the synthetic vocabulary has no English stopwords, which the
    # quality rule requires — append three so documents are eligible
    # (uniform suffix: dedup keeper structure is unchanged)
    cdocs = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit(" the of and"))
    )
    t0 = time.time()
    packed = curate_corpus(
        cdocs, {"train": 0.9, "val": 0.1}, 2048, 256, seed=21
    )
    n_packed = packed.count()
    w = time.time() - t0
    out2 = {
        "n_docs": n_docs,
        "curate_wall_s": round(w, 2),
        "curate_docs_per_sec": round(n_docs / w, 1),
        "curate_survivors": n_packed,
    }
    print("CURATE_SCALE_PROBE " + json.dumps(out2, sort_keys=True))

    # Embedding near-dup at scale: sign-LSH bucket join + exact
    # cosine verify (the sub-quadratic scale path of
    # dedup.embedding_lsh_near_dup_pairs).  Synthetic vectors are a
    # distributed projection (components from xxhash64(source, i));
    # docs with id % 20 == 7 carry a lightly-perturbed copy of
    # id−7's vector (cosine ≈ 0.999), everything else is ~orthogonal
    # at d=64 — planted recall is the correctness-at-scale signal.
    from vectordb_retrieval_spark.operators.dedup import (
        embedding_lsh_near_dup_pairs,
    )

    n_vec = min(max(n_docs // 5, 50_000), 200_000)
    d = 64
    base_v = spark.range(n_vec).withColumnRenamed("id", "vec_id")
    is_dup = (F.col("vec_id") % 20 == 7) & (F.col("vec_id") >= 7)
    src_v = F.when(is_dup, F.col("vec_id") - 7).otherwise(F.col("vec_id"))
    comp = lambda i: (  # noqa: E731
        F.pmod(F.xxhash64(src_v, F.lit(i)), F.lit(100_000)) / 50_000.0
        - 1.0
    )
    noise = lambda i: F.when(  # noqa: E731
        is_dup,
        (
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(i + 500)), F.lit(1000))
            / 500.0
            - 1.0
        )
        * 0.02,
    ).otherwise(F.lit(0.0))
    vecs = base_v.select(
        "vec_id",
        F.array(
            *[(comp(i) + noise(i)).cast("float") for i in range(d)]
        ).alias("embedding"),
    ).repartition(32).cache()
    vecs.count()
    t0 = time.time()
    ep = embedding_lsh_near_dup_pairs(
        vecs, threshold=0.8, num_tables=4, hash_size=16, dimension=d
    ).cache()
    n_ep = ep.count()
    w = time.time() - t0
    found = ep.where(
        (F.col("b") - F.col("a") == 7) & (F.col("b") % 20 == 7)
    ).count()
    n_pl = vecs.where(is_dup).count()
    print(
        "EMB_NEARDUP_SCALE_PROBE "
        + json.dumps(
            {
                "n_vecs": n_vec,
                "dim": d,
                "wall_s": round(w, 2),
                "vecs_per_sec": round(n_vec / w, 1),
                "pairs": n_ep,
                "planted": n_pl,
                "planted_found": found,
                "planted_recall": round(found / max(n_pl, 1), 4),
            },
            sort_keys=True,
        )
    )
    ep.unpersist()
    vecs.unpersist()


if __name__ == "__main__":
    sys.exit(main())
