"""Standalone PQ index: exhaustive ADC scan (reference "PQ64" row,
configs/benchmark_config.yaml:61-72).

Build encodes every base vector to m sub-codes; search broadcasts a per
-query (m × ksub) LUT of partial squared distances and scans the code
table with per-partition top-k — the same candidate-free exhaustive ADC
the reference gets from FAISS, expressed as a mapInPandas fold so the
scan parallelizes across partitions and shuffles only
n_partitions × n_queries × k rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_retrieval_spark import transport
from vectordb_retrieval_spark.artifacts import IndexArtifact
from vectordb_retrieval_spark.operators.quant import PQCodec
from vectordb_retrieval_spark.operators.searcher import Searcher
from vectordb_retrieval_spark.operators.topk import topk_per_query, topk_rows


class PQIndexer:
    def __init__(
        self,
        m: int = 8,
        ksub: int = 256,
        metric: str = "l2",
        seed: int = 42,
        codebooks: np.ndarray | None = None,
        opq: bool = False,
        opq_iters: int = 8,
    ):
        if opq:
            from vectordb_retrieval_spark.operators.quant import OPQCodec

            self.codec = OPQCodec(
                m=m, ksub=ksub, seed=seed,
                normalize=(metric == "cosine"), opq_iters=opq_iters,
            )
        else:
            self.codec = PQCodec(
                m=m, ksub=ksub, seed=seed, normalize=(metric == "cosine")
            )
        if codebooks is not None:
            # pre-set (m, ksub, dsub) codebooks skip k-means training —
            # used by the SQL-reproducible fixed-codebook driver query
            self.codec.codebooks = np.asarray(codebooks, dtype=np.float64)
            if opq:
                # build() skips fit() for preset codebooks, which would
                # leave the OPQ rotation untrained (None) and crash the
                # encode kernel — identity rotation is the only
                # consistent interpretation of "these exact codebooks"
                mm, _, dsub = self.codec.codebooks.shape
                self.codec.rotation = np.eye(mm * dsub)
        self.metric = metric

    def build(
        self, base_df: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> IndexArtifact:
        base = base_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        if self.codec.codebooks is None:
            self.codec.fit(base, "vec")
        # cache + eager count: the m-byte code table IS the index (tiny
        # vs the vectors); encode runs once at build, searches scan codes
        codes = self.codec.encode_df(base, "vec").cache()
        codes.count()
        return IndexArtifact(
            kind="pq",
            tables={"codes": codes},
            params={"codec": self.codec, "metric": self.metric},
            metadata={"m": self.codec.m, "ksub": self.codec.ksub, "metric": self.metric},
        )


class PQADCSearcher(Searcher):
    """Exhaustive decoded-ADC scan; like IVFSearcher, a code table that
    packs under ``broadcast_threshold`` is served via the broadcast-
    index path (operators/serving.py): one shuffle-free job over the
    query table, decoded codes memoized per worker across searches."""

    def __init__(self, broadcast_threshold: int = 128 << 20):
        super().__init__()
        self.broadcast_threshold = broadcast_threshold

    def _serving_broadcast(self, spark):
        from vectordb_retrieval_spark.operators.serving import pack_clusters

        art = self.artifact
        codec: PQCodec = art.params["codec"]

        def estimate() -> int:
            n = art.tables["codes"].count()
            width = codec.m * (1 if codec.ksub <= 256 else 2)
            # packed codes + ids PLUS the per-worker float64 decode cache
            # (8 bytes x dim per row) — same gate as
            # serving.artifact_serving_broadcast
            decoded = 8 * codec.codebooks.shape[0] * codec.codebooks.shape[2]
            return n * (width + decoded + 8)

        def pack(_threshold):
            packed = pack_clusters(
                art.tables["codes"].withColumn("cluster_id", F.lit(0)),
                "codes",
                None,
                codec,
            )
            return packed, packed.nbytes(), None

        got = transport.broadcast_cached(
            art, "_serving_bc", spark, self.broadcast_threshold, pack, estimate
        )
        return None if got is None else got.bc

    def search(
        self, query_df: DataFrame, k: int, qid_col: str = "qid", vec_col: str = "vec"
    ) -> DataFrame:
        art = self._attached()
        codec: PQCodec = art.params["codec"]
        spark = query_df.sparkSession
        mk = (k, qid_col, vec_col)
        plan = self._plan_get(query_df, mk)
        if plan is not None:
            return plan

        bc_index = self._serving_broadcast(spark)
        if bc_index is not None:
            from vectordb_retrieval_spark.operators.serving import (
                broadcast_probe_search,
            )

            # ADC runs in L2 over decoded vectors; cosine is absorbed
            # by the codec's normalize flag, so the queries normalize
            # exactly when the codec does
            return self._plan_put(
                query_df,
                mk,
                broadcast_probe_search(
                    query_df,
                    bc_index,
                    None,
                    k,
                    "l2",
                    qid_col=qid_col,
                    vec_col=vec_col,
                    normalize_queries=codec.normalize,
                ),
            )

        qids, qmat, done = self._queries(
            query_df,
            qid_col,
            vec_col,
            lambda c: self.search(c, k, qid_col, vec_col),
        )
        if done is not None:
            return done
        q64 = qmat.astype(np.float64)
        if codec.normalize:
            from vectordb_retrieval_spark.functions.distance import normalize_rows

            q64 = normalize_rows(q64)
        bc = spark.sparkContext.broadcast((qids, q64, codec))

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from vectordb_retrieval_spark.functions.distance import (
                pairwise_distances,
            )

            q_ids, qm, cdc = bc.value
            n_q = len(q_ids)
            cand_d: list[np.ndarray] = []
            cand_i: list[np.ndarray] = []
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf["id"].to_numpy(dtype=np.int64)
                codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
                # ADC distance with exact codebook arithmetic == L2 to
                # the decoded vector, so decode once per block and let
                # one GEMM replace m gather-accumulate passes (the m=64
                # FAISS-parity config is ~50× faster this way; the LUT
                # form only wins when codes are scanned many times per
                # materialized decode, which an exhaustive scan isn't)
                dec = cdc.decode(codes)
                n_b = len(ids)
                # Selection must be deterministic across serving batch
                # shapes: BLAS GEMM blocking varies with the batch's row
                # count, so two logically-tied candidates (identical
                # decoded vectors — routine under quantization) can land
                # ULPs apart in one shape and exactly equal in another,
                # flipping which survives pruning.  The elementwise
                # squared-diff sum below is a fixed-depth pairwise
                # reduction over dim — bitwise shape-independent — so
                # the kept candidates and their dists are stable, and
                # ties resolve by the (dist, id) contract
                # (topk.topk_rows).
                def det_rows(qrows: np.ndarray, cand: np.ndarray) -> np.ndarray:
                    # (len(qrows), cand.shape[1]) deterministic dists;
                    # tiled so the (q, cand, dim) cube stays ~40 MB
                    out = np.empty(cand.shape[:2])
                    step = max(1, 40_000_000 // (cand.shape[1] * qm.shape[1] * 8))
                    for s in range(0, len(qrows), step):
                        e = min(len(qrows), s + step)
                        diff = qm[qrows[s:e], None, :] - dec[cand[s:e]]
                        out[s:e] = (diff * diff).sum(-1)
                    return np.sqrt(out)

                all_rows = np.arange(n_q)
                margin = 16
                if n_b > k + margin:
                    dmat = pairwise_distances(qm, dec, "l2")  # prune scores
                    m_sl = k + margin
                    # one selection: columns [:m_sl] are kept, column
                    # m_sl is the smallest EXCLUDED prune score
                    part = np.argpartition(dmat, m_sl, axis=1)
                    excl_min = np.take_along_axis(
                        dmat, part[:, m_sl : m_sl + 1], axis=1
                    )[:, 0]
                    part = part[:, :m_sl]
                    det = det_rows(all_rows, part)
                    bd, bi = topk_rows(det, ids[part], k)
                    # certify the prune: an excluded candidate could only
                    # beat the kth refined dist if the boundary gap is
                    # inside GEMM's fp noise — those rows re-rank against
                    # the full block deterministically (rare; common only
                    # under degenerate tiny-codebook configs)
                    eps = 1e-7 * (1.0 + np.abs(excl_min))
                    unsafe = np.nonzero(bd[:, -1] >= excl_min - eps)[0]
                    if len(unsafe):
                        full = det_rows(
                            unsafe,
                            np.broadcast_to(
                                np.arange(n_b), (len(unsafe), n_b)
                            ),
                        )
                        fd, fi = topk_rows(full, ids, k)
                        bd[unsafe], bi[unsafe] = fd, fi
                    cand_d.append(bd)
                    cand_i.append(bi)
                else:
                    det = det_rows(
                        all_rows,
                        np.broadcast_to(np.arange(n_b), (n_q, n_b)),
                    )
                    bd, bi = topk_rows(det, ids, k)
                    cand_d.append(bd)
                    cand_i.append(bi)
            if not cand_d:
                return
            dall, iall = topk_rows(
                np.concatenate(cand_d, axis=1), np.concatenate(cand_i, axis=1), k
            )
            kk = dall.shape[1]
            yield pd.DataFrame(
                {
                    "qid": np.repeat(q_ids, kk),
                    "id": iall.reshape(-1),
                    "dist": dall.reshape(-1),
                }
            )

        scored = art.tables["codes"].select("id", "codes").mapInPandas(
            kernel, schema="qid long, id long, dist double"
        )
        return self._plan_put(query_df, mk, topk_per_query(scored, k))
