"""Standalone PQ index: exhaustive ADC scan (reference "PQ64" row,
configs/benchmark_config.yaml:61-72).

Build encodes every base vector to m sub-codes.  A code table under the
serving gate is searched by the broadcast-index plan
(operators/serving.py); past it, ``serving.partition_driven_job`` scans
the code table: each task decodes its batches of codes, scores them
against every query and folds per-query top-k fragments, so the merge
exchange carries only tasks × n_queries fragment rows — the same
candidate-free exhaustive ADC the reference gets from FAISS.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_retrieval_spark import transport
from vectordb_retrieval_spark.artifacts import IndexArtifact
from vectordb_retrieval_spark.functions.distance import (
    normalize_rows,
    pairwise_distances,
)
from vectordb_retrieval_spark.operators.quant import PQCodec, encode_df
from vectordb_retrieval_spark.operators.searcher import Searcher
from vectordb_retrieval_spark.operators.serving import (
    PackedClusters,
    broadcast_probe_search,
    packed_index_bytes,
    partition_driven_job,
)
from vectordb_retrieval_spark.operators.topk import topk_rows


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
        codes = encode_df(self.codec, base, "vec").cache()
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
        art = self.artifact
        codec: PQCodec = art.params["codec"]

        def estimate() -> int:
            # the worker-side decode is the packed scan state, the same
            # gate as serving.artifact_serving_broadcast
            m, _, dsub = codec.codebooks.shape
            return packed_index_bytes(art.tables["codes"].count(), codec, m * dsub)

        def pack(_threshold):
            # the code table as one cluster of a PackedClusters bundle
            pdf = art.tables["codes"].select("id", "codes").toPandas()
            packed = PackedClusters(
                np.zeros(0, dtype=np.int64), [], [], codec, None
            ).appended(
                np.zeros(len(pdf), dtype=np.int64),
                pdf["id"].to_numpy(dtype=np.int64),
                np.vstack(pdf["codes"].to_numpy()),
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

        bcq, _, done = self._queries(
            query_df,
            qid_col,
            vec_col,
            lambda c: self.search(c, k, qid_col, vec_col),
        )
        if done is not None:
            return done

        def adc_unit(rb, qmat, _route):
            """One Arrow batch of code rows → each query's top-k of it."""
            qm = qmat.astype(np.float64)
            if codec.normalize:
                qm = normalize_rows(qm)
            n_q = len(qm)
            ids = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            n_b = len(ids)
            codes = (
                rb.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n_b, -1)
                .astype(np.int64)
            )
            # ADC distance with exact codebook arithmetic == L2 to the
            # decoded vector, so decode once per block and let one GEMM
            # replace m gather-accumulate passes (the m=64 FAISS-parity
            # config is ~50× faster this way; the LUT form only wins
            # when codes are scanned many times per materialized decode,
            # which an exhaustive scan isn't)
            dec = codec.decode(codes)

            # Selection must be deterministic across serving batch
            # shapes: BLAS GEMM blocking varies with the batch's row
            # count, so two logically-tied candidates (identical decoded
            # vectors — routine under quantization) can land ULPs apart
            # in one shape and exactly equal in another, flipping which
            # survives pruning.  The elementwise squared-diff sum below
            # is a fixed-depth pairwise reduction over dim — bitwise
            # shape-independent — so the kept candidates and their dists
            # are stable, and ties resolve by the (dist, id) contract
            # (topk.topk_rows).
            def det_rows(qrows: np.ndarray, cand: np.ndarray) -> np.ndarray:
                # (len(qrows), cand.shape[1]) deterministic dists; tiled
                # so the (q, cand, dim) cube stays ~40 MB
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
            else:
                det = det_rows(
                    all_rows,
                    np.broadcast_to(np.arange(n_b), (n_q, n_b)),
                )
                bd, bi = topk_rows(det, ids, k)
            return np.repeat(all_rows, bd.shape[1]), bi.ravel(), bd.ravel()

        return self._plan_put(
            query_df,
            mk,
            partition_driven_job(
                art.tables["codes"].select("id", "codes"), bcq, None, adc_unit, k
            ),
        )
