"""Searcher skeleton shared by the ANN searchers (IVF, cluster-pruned,
graph, LSH, PQ) — the port's counterpart of the reference's
``BaseAlgorithm`` contract (base_algorithm.py:22-96).

A family supplies its kernel, its probe/routing logic and its choice of
physical plan; the skeleton owns the plumbing every family repeats:
``attach`` and the not-attached error, the per-query-frame plan memo,
the lazily created ``ndis`` accumulator, and the partitioned-path
prologue (query collect-or-chunk, empty batch, cosine normalization).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from vectordb_retrieval_spark import transport
from vectordb_retrieval_spark.artifacts import IndexArtifact
from vectordb_retrieval_spark.functions import kernels
from vectordb_retrieval_spark.functions.distance import normalize_rows
from vectordb_retrieval_spark.operators.topk import RESULT_SCHEMA


class Searcher:
    def __init__(self) -> None:
        self.artifact: IndexArtifact | None = None
        # distance-computation counter, parity with the reference's
        # ``ndis`` record_operation (base_algorithm.py:91-96); created on
        # first use, so families that count nothing report no ndis
        self.ndis_accum = None
        # repeated searches of one query frame reuse the whole lazy plan
        # (~60 ms of driver-side pyspark object construction per call at
        # serving rates, plus per-plan broadcasts); execution still runs
        # in full on every materialization.  The artifact guard keeps a
        # re-attached searcher from serving plans of its old artifact.
        self._plans = kernels.SearchPlanMemo()

    def attach(self, artifact: IndexArtifact):
        self.artifact = artifact
        return self

    def _attached(self) -> IndexArtifact:
        if self.artifact is None:
            raise RuntimeError("searcher not attached to an index artifact")
        return self.artifact

    def _ndis(self, spark):
        if self.ndis_accum is None:
            self.ndis_accum = spark.sparkContext.accumulator(0)
        return self.ndis_accum

    def _plan_get(self, query_df: DataFrame, key):
        """The memoized plan for (query frame, key), or None.  An entry
        carries the node-local root its plan reads: a hit re-touches it
        (transport keep-alive), and a swept root is a miss — the rebuilt
        plan republishes under a fresh root."""
        hit = self._plans.get(query_df, key, guard=self.artifact)
        if hit is None:
            return None
        plan, root = hit
        if root is not None and not transport.touch(root):
            return None
        return plan

    def _plan_put(self, query_df: DataFrame, key, plan: DataFrame, root=None):
        self._plans.put(query_df, key, (plan, root), guard=self.artifact)
        return plan

    def _queries(self, query_df, qid_col, vec_col, recurse, normalize=False):
        """Partitioned-path prologue: ``(bcq, qmat, None)`` for a frame
        under the query-collect gate — ``bcq`` is the memoized
        ``(qids, qmat)`` query broadcast the partition-driven job's
        tasks read, ``qmat`` its matrix for driver-side routing,
        L2-normalized when ``normalize`` (cosine; tasks normalize their
        own rows the same way) — else ``(None, None, result)``: the
        chunked union of ``recurse(chunk)`` for a past-gate frame (no
        serving path holds an unbounded query frame on the driver), or
        the empty result for an empty batch."""
        bcq, chunked = kernels.collect_or_chunk(
            query_df, qid_col, vec_col, recurse
        )
        if chunked is not None:
            return None, None, chunked
        qids, qmat = bcq.value
        if len(qids) == 0:
            empty = query_df.sparkSession.createDataFrame([], RESULT_SCHEMA)
            return None, None, empty
        if normalize:
            qmat = normalize_rows(qmat.astype(np.float64)).astype(np.float32)
        return bcq, qmat, None
