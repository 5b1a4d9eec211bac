"""Substring-span dedup and SemDeDup at scale.

bench.py's distributed synthetic corpus (``synth_substring_docs``): every
doc is 80 words from xxhash64(doc_id, position).  Planted structure:
docs with id % 20 == 7 copy tokens 31..40 (1-based) from doc id-7, so
each pair shares one identical 10-token run inside otherwise-unique
text.  bench.py's scale-curve block takes the span rate and planted
recall and the SemDeDup rate and drop recall; this probe adds the cut,
the false-positive counts and the ``--hot`` skew case.  It times

  1. duplicated_spans(k=6): must find, in BOTH docs of every pair, a
     maximal span covering tokens 31..40 (1-based) — planted recall;
  2. substring_dedup(k=6): the cut — removed-token accounting must
     equal 10 per planted doc and 0 elsewhere (false positives);
  3. semantic_dedup over synthetic embeddings where id % 10 == 3
     clones vector id-3 with tiny noise — planted drop recall and
     false-drop count.

    python scripts/substring_scale_probe.py [n_docs] [--skip-sem]
"""

import json
import sys
import time

sys.path.insert(0, ".")

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import synth_substring_docs as synth_docs  # noqa: E402
from bench import synth_vectors  # noqa: E402
from vectordb_retrieval_spark.session import get_spark  # noqa: E402


def probe_substring(spark, n_docs: int) -> dict:
    from vectordb_retrieval_spark.operators.substring import (
        duplicated_spans,
        substring_dedup,
    )

    docs = synth_docs(spark, n_docs).repartition(32).cache()
    docs.count()
    planted_pred = (F.col("doc_id") % 20 == 7) | (
        (F.col("doc_id") % 20 == 0) & (F.col("doc_id") + 7 < n_docs)
    )

    t0 = time.time()
    spans = duplicated_spans(docs, k=6, min_count=2).cache()
    n_spans = spans.count()
    wall_spans = time.time() - t0

    # a doc is "hit" when some span covers the full planted window
    hits = (
        spans.where((F.col("span_start") <= 31) & (F.col("span_end") >= 40))
        .select("doc_id")
        .distinct()
    )
    n_hit = hits.count()
    n_planted_docs = docs.where(planted_pred).count()
    false_docs = spans.join(
        docs.where(planted_pred).select("doc_id"), "doc_id", "left_anti"
    ).count()

    t1 = time.time()
    cut = substring_dedup(docs, k=6, min_count=2).cache()
    cut.count()
    wall_cut = time.time() - t1
    removed_on_unplanted = cut.join(
        docs.where(planted_pred).select("doc_id"), "doc_id", "left_anti"
    ).where(F.col("n_removed") > 0).count()
    # under-removal is a miss; OVER-removal by a token or two is
    # correct behavior — with prob ~1/vocab per side the token next to
    # the planted window coincidentally equals the partner's, so the
    # true shared run is genuinely 11+ tokens (measured ~6 per 100k
    # planted docs at vocab 20k, matching the birthday arithmetic)
    under_removed = cut.join(
        docs.where(planted_pred).select("doc_id"), "doc_id", "left_semi"
    ).where(F.col("n_removed") < 10).count()
    spans.unpersist()
    cut.unpersist()
    docs.unpersist()
    return {
        "n_docs": n_docs,
        "spans_wall_s": round(wall_spans, 2),
        "spans_docs_per_s": round(n_docs / wall_spans, 1),
        "cut_wall_s": round(wall_cut, 2),
        "cut_docs_per_s": round(n_docs / wall_cut, 1),
        "n_spans": n_spans,
        "planted_doc_recall": round(n_hit / max(1, n_planted_docs), 4),
        "false_span_docs": false_docs,
        "unplanted_docs_with_removal": removed_on_unplanted,
        "planted_docs_under_removed": under_removed,
    }


def probe_semantic(spark, n_vecs: int, dim: int = 32) -> dict:
    from vectordb_retrieval_spark.operators.dedup import semantic_dedup

    vecs = synth_vectors(spark, n_vecs, dim).repartition(32).cache()
    vecs.count()
    # SemDeDup regime: cluster population stays ~constant (the paper
    # grows cluster count with corpus size), so the within-cluster
    # quadratic work is ~200x linear in n, independent of scale
    n_cents = max(8, n_vecs // 200)
    cents = np.vstack(
        [
            r["embedding"]
            for r in vecs.where(F.col("vec_id") < n_cents).orderBy("vec_id").collect()
        ]
    ).astype(np.float32)

    t0 = time.time()
    survivors = semantic_dedup(vecs, cents, threshold=0.999).cache()
    n_kept = survivors.count()
    wall = time.time() - t0

    planted = vecs.where((F.col("vec_id") % 10 == 3) & (F.col("vec_id") >= 3))
    n_planted = planted.count()
    # planted clones should be dropped (their source has the lower id)
    missed = survivors.join(planted.select("vec_id"), "vec_id", "left_semi").count()
    # unplanted vectors should survive
    false_drops = (
        vecs.join(planted.select("vec_id"), "vec_id", "left_anti")
        .join(survivors.select("vec_id"), "vec_id", "left_anti")
        .count()
    )
    survivors.unpersist()
    vecs.unpersist()
    return {
        "n_vecs": n_vecs,
        "n_centroids": n_cents,
        "wall_s": round(wall, 2),
        "vecs_per_s": round(n_vecs / wall, 1),
        "n_kept": n_kept,
        "planted_drop_recall": round(1.0 - missed / max(1, n_planted), 4),
        "false_drops": false_drops,
    }


def probe_hot_gram(spark, n_docs: int, repeat: int = 4) -> dict:
    """The degenerate-boilerplate skew case: every doc starts with the
    same 10-token notice repeated ``repeat`` times, so each hot 6-gram
    occurs ~n_docs x repeat times corpus-wide (n_docs=250k, repeat=4
    -> million-occurrence grams).  Without the guard the count window
    hash-partitions by gram, landing every occurrence of a hot gram on
    ONE partition; the probe records the window-input partition skew
    (max/mean rows) and the wall with and without ``max_gram_df``."""
    from vectordb_retrieval_spark.operators.substring import (
        duplicated_spans,
        gram_positions,
    )

    boiler = " ".join(
        ["all rights reserved worldwide by the provider of this site ok"]
        * repeat
    )
    docs = (
        synth_docs(spark, n_docs)
        .select(
            "doc_id",
            F.concat(F.lit(boiler + " "), F.col("text")).alias("text"),
        )
        .repartition(32)
        .cache()
    )
    docs.count()
    out: dict = {"n_docs": n_docs, "repeat": repeat}
    # window-input skew: the unguarded window shuffles the raw gram
    # table by gram hash — measure rows per shuffle partition
    g = gram_positions(docs, 6)
    sizes = (
        g.repartition(32, "gh")
        .select(F.spark_partition_id().alias("p"))
        .groupBy("p")
        .count()
        .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
        .collect()[0]
    )
    out["window_input_skew_unguarded"] = round(sizes["mx"] / sizes["mean"], 2)
    for label, kw in (
        ("unguarded", {}),
        ("guarded", {"max_gram_df": 100_000}),
    ):
        t0 = time.time()
        out[f"spans_{label}"] = duplicated_spans(
            docs, k=6, min_count=2, **kw
        ).count()
        out[f"wall_{label}_s"] = round(time.time() - t0, 1)
    docs.unpersist()
    assert out["spans_guarded"] == out["spans_unguarded"]
    return out


def main() -> int:
    nums = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(nums[0]) if nums else 100_000
    spark = get_spark("substring_scale_probe", master="local[32]")
    if "--hot" in sys.argv:
        out = {"hot_gram": probe_hot_gram(spark, n_docs)}
        print("SUBSTRING_SCALE_PROBE " + json.dumps(out))
        return 0
    out = {"substring": probe_substring(spark, n_docs)}
    if "--skip-sem" not in sys.argv:
        out["semantic"] = probe_semantic(spark, n_docs)
    print("SUBSTRING_SCALE_PROBE " + json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
