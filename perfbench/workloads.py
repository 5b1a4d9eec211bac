"""The benchmark's workloads, each composed from the package's public
calls.  A workload sets up its inputs (``setup``), runs one operation
per ``op`` call and reports what it checked in ``finish``.

``op`` returns ``{"kind", "wall", "items"}``: ``wall`` is the
operation's latency and ``items`` the queries or documents it served."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

import inputs
from vectordb_retrieval_spark.metrics import retrieval_metrics_multi
from vectordb_retrieval_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_verified_pairs,
    near_dup_dedup,
)
from vectordb_retrieval_spark.operators.exact import exact_knn
from vectordb_retrieval_spark.operators.ivf import IVFIndexer, IVFSearcher, ivf_append
from vectordb_retrieval_spark.operators.quant import SQ8Codec
from vectordb_retrieval_spark.persistence import (
    artifact_size_bytes,
    config_fingerprint,
    save_artifact,
)
from vectordb_retrieval_spark.registry import get_algorithm_instance
from vectordb_retrieval_spark.sources.vector_schema import load_vector_table

K = 10
now = time.perf_counter


def _unpersist(art) -> None:
    for df in art.tables.values():
        df.unpersist()


class Workload:
    read_kind = "read"
    # untimed operations run before the timed loop
    warmup_ops = 0
    # operations in one repeating mix of kinds
    cycle = 1

    def __init__(self, spark, tracer, seed: int, data_dir: str):
        self.spark, self.tracer, self.seed, self.data_dir = spark, tracer, seed, data_dir
        self.failures: list[str] = []

    def prepare(self) -> None:
        """Generate the client's side of the inputs, once per run."""

    def span(self, name: str):
        return self.tracer.span(name)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


class Experiment(Workload):
    """A batch pipeline: near-duplicate removal over a text corpus (one
    ``Dedup`` pass), then the reference lifecycle in
    ``ExperimentRunner.run_algorithm`` order: load parquet → exact
    ground truth → per algorithm build, save, one cold batch search,
    evaluate.  No warm-up: like the runner, a run makes its lifecycle in
    a fresh session, JVM and expression-compile warm-up included."""

    read_kind = "lifecycle"
    N, NQ, N_DOCS = 5_000, 1_024, 2_000
    ALGOS = (
        (
            "ivf",
            {"type": "ivf_sq8", "nlist": 64, "metric": "cosine"},
            # a scaled-down serving gate: this 5k-row index takes the
            # over-gate partitioned scan a 100k-row index takes under the
            # default 128 MiB gate
            {"type": "ivf", "nprobe": 4, "broadcast_threshold": 1 << 18},
        ),
        (
            "graph_ann",
            {
                "type": "graph_ann",
                "metric": "cosine",
                "partition_by": "kmeans",
                "num_partitions": 8,
                "long_links": 8,
            },
            {"type": "graph_ann", "ef_search": 64, "probe_partitions": 2},
        ),
    )

    def __init__(self, *a):
        super().__init__(*a)
        self.recalls: list[float] = []
        self.family_recall: dict[str, float] = {}
        self.dedup = Dedup(*a)
        self.dedup.N_DOCS = self.N_DOCS
        self.failures = self.dedup.failures

    def setup(self, rep: int) -> None:
        self.dedup.setup(rep)
        d = os.path.join(self.data_dir, f"inputs{rep}")
        with self.span("sources.gen"):
            inputs.vectors(self.spark, self.N, self.seed, inputs.BASE_STREAM).write.parquet(
                os.path.join(d, "base")
            )
            inputs.vectors(
                self.spark, self.NQ, self.seed, inputs.QUERY_STREAM, id_col="qid"
            ).write.parquet(os.path.join(d, "queries"))
        self.inputs = d

    def op(self, i: int) -> dict:
        spark = self.spark
        t0 = now()
        self.dedup.op(i)
        with self.span("sources.load"):
            base = load_vector_table(spark.read.parquet(os.path.join(self.inputs, "base")))
            queries = load_vector_table(
                spark.read.parquet(os.path.join(self.inputs, "queries")), id_col="qid"
            )
            nq = queries.count()
        with self.span("exact.gt"):
            gt = exact_knn(base, queries, K, "cosine", qid_col="qid", qvec_col="vec").cache()
            gt.count()
        done = []
        for fam, icfg, scfg in self.ALGOS:
            algo = get_algorithm_instance(icfg, scfg)
            with self.span(f"{fam}.build"):
                art = algo.build_index(base)
                for df in art.tables.values():
                    df.count()
            path = os.path.join(self.data_dir, f"index-{i}-{fam}")
            with self.span("persistence.save") as rec:
                save_artifact(art, path, config_fingerprint({"index": icfg}))
            rec["mb"] = artifact_size_bytes(path) / 2**20
            ndis0 = algo.searcher.ndis_accum.value if algo.searcher.ndis_accum else 0
            with self.span(f"{fam}.plan"):
                pred = algo.batch_search(queries, K)
            with self.span(f"{fam}.exec") as rec:
                pred = pred.cache()
                pred.count()
            rec["ndis"] = algo.searcher.ndis_accum.value - ndis0
            rec["n_q"] = nq
            with self.span("metrics.eval"):
                rows = retrieval_metrics_multi(pred, gt, [K]).collect()
            done.append((fam, art, pred, float(rows[0]["recall"]), path))
        wall = now() - t0
        for fam, art, pred, recall, path in done:
            # the benchmark's own recall: hits of a (qid, id) join with
            # the exact ground truth over n_q × k
            own = pred.join(gt, ["qid", "id"]).count() / (nq * K)
            if abs(own - recall) > 1e-9:
                self.fail(f"{fam}: join recall {own} != retrieval_metrics_multi {recall}")
            self.family_recall[fam] = recall
            pred.unpersist()
            _unpersist(art)
            shutil.rmtree(path, ignore_errors=True)
        gt.unpersist()
        self.recalls.append(sum(r for _, _, _, r, _ in done) / len(done))
        return {"kind": "lifecycle", "wall": wall, "items": len(done) * nq}

    def finish(self) -> float:
        self.dedup.finish()
        if len(set(self.recalls)) > 1:
            self.fail(f"recall differs between lifecycles: {self.recalls}")
        return self.recalls[0]

    def pair_counts(self) -> tuple[int, int]:
        return self.dedup.pair_counts()


class Serve(Workload):
    """Closed loop, one client: each request turns a fresh 64-query
    numpy batch into a DataFrame, searches an IVF-SQ8 index under the
    broadcast gate and collects the result."""

    N, NLIST, NPROBE, BATCH, POOL = 5_000, 64, 4, 64, 32
    # appends in one chain on the set-up index; 0 for a read-only client
    APPEND_ROWS, CHAIN_APPENDS = 200, 0
    # two cycles of untimed operations: reads are still getting faster
    # (JIT) over the first seconds of a session
    warmup_ops = 10
    # reads whose recall is reported: a fixed prefix of the run, so the
    # figure is the same for every run of one seed
    recall_reads = 8

    def __init__(self, *a):
        super().__init__(*a)
        self.art = self.base_art = None
        self.reads: list[tuple] = []
        self.n_appends = 0

    def prepare(self) -> None:
        """The request stream: query batches and rows to append."""
        spark = self.spark
        _, self.pool = inputs.to_numpy(
            inputs.vectors(
                spark, self.BATCH * self.POOL, self.seed, inputs.QUERY_STREAM, id_col="qid"
            ),
            "qid",
        )
        self.ingest_ids = np.zeros(0, dtype=np.int64)
        self.ingest = np.zeros((0, inputs.DIM), dtype=np.float32)
        if self.CHAIN_APPENDS:
            self.ingest_ids, self.ingest = inputs.to_numpy(
                inputs.vectors(
                    spark,
                    self.APPEND_ROWS * self.CHAIN_APPENDS,
                    self.seed,
                    inputs.INGEST_STREAM,
                    first_id=self.N,
                ),
                "id",
            )

    def setup(self, rep: int) -> None:
        if self.art is not None:
            _unpersist(self.art)
            _unpersist(self.base_art)
        with self.span("sources.gen"):
            base = inputs.vectors(self.spark, self.N, self.seed, inputs.BASE_STREAM).cache()
            base.count()
            ids, mat = inputs.to_numpy(base, "id")
        # the exact-answer reference covers base and every appendable row
        self.corpus_ids = np.concatenate([ids, self.ingest_ids])
        self.corpus = np.vstack([mat, self.ingest])
        self.corpus_unit = inputs.unit_rows(self.corpus)
        with self.span("ivf.build"):
            self.art = IVFIndexer(nlist=self.NLIST, metric="cosine", codec=SQ8Codec()).build(base)
            for df in self.art.tables.values():
                df.count()
        base.unpersist()
        self.base_art = self.art
        self.searcher = IVFSearcher(nprobe=self.NPROBE).attach(self.art)
        self.n_rows, self.n_appends, self.reads = self.N, 0, []
        # the first search packs and broadcasts the index: set-up work
        self._read(-1)

    def _read(self, i: int) -> float:
        b = i % self.POOL
        qids = np.arange(self.BATCH, dtype=np.int64) + (i + 1) * self.BATCH
        qmat = self.pool[b * self.BATCH : (b + 1) * self.BATCH]
        t0 = now()
        with self.span("driver.create_df"):
            df = self.spark.createDataFrame(
                pd.DataFrame({"qid": qids, "vec": list(qmat)}), "qid long, vec array<float>"
            )
        ndis0 = self.searcher.ndis_accum.value if self.searcher.ndis_accum else 0
        with self.span("ivf.plan"):
            res = self.searcher.search(df, K)
        with self.span("ivf.exec") as rec:
            rows = res.collect()
        wall = now() - t0
        rec["ndis"] = self.searcher.ndis_accum.value - ndis0
        rec["n_q"] = self.BATCH
        if i >= 0:
            self.reads.append((qids, qmat, self.n_rows, rows))
        return wall

    def _append(self) -> float:
        if self.n_appends == self.CHAIN_APPENDS:
            # a new chain of appends on the set-up index
            _unpersist(self.art)
            self.art, self.n_appends, self.n_rows = self.base_art, 0, self.N
        lo = self.N + self.n_appends * self.APPEND_ROWS
        ids = self.corpus_ids[lo : lo + self.APPEND_ROWS]
        mat = self.corpus[lo : lo + self.APPEND_ROWS]
        t0 = now()
        with self.span("ivf.append"):
            df = self.spark.createDataFrame(
                pd.DataFrame({"id": ids, "vec": list(mat)}), "id long, vec array<float>"
            )
            self.art = ivf_append(self.art, df)
            self.searcher.attach(self.art)
        self.n_appends += 1
        self.n_rows += self.APPEND_ROWS
        return now() - t0

    def op(self, i: int) -> dict:
        # an append opens each cycle, so the reads that follow (the first
        # of them repacks the broadcast) close it
        if self.CHAIN_APPENDS and i % self.cycle == 0:
            wall = self._append()
            return {"kind": "append", "wall": wall, "items": 0}
        wall = self._read(i)
        return {"kind": "read", "wall": wall, "items": self.BATCH}

    def _recall(self, qids, qmat, n_rows, rows) -> float:
        """Recall@k of one served batch against the exact top-k of the
        corpus as it stood when the batch was served."""
        gt = inputs.exact_topk_cosine(
            self.corpus_unit[:n_rows], self.corpus_ids[:n_rows], qmat, K
        )
        served: dict[int, set] = {}
        for r in rows:
            served.setdefault(r["qid"], set()).add(r["id"])
        return sum(
            len(served.get(q, set()) & set(g)) for q, g in zip(qids, gt)
        ) / (len(gt) * K)

    def finish(self) -> float:
        recalls = []
        for read in self.reads:
            qids, rows = read[0], read[3]
            if len(rows) != len(qids) * K:
                self.fail(f"a read returned {len(rows)} rows for {len(qids)} queries")
            recalls.append(self._recall(*read))
        if len(recalls) < self.recall_reads:
            self.fail(f"only {len(recalls)} reads served; {self.recall_reads} needed")
            return 0.0
        if min(recalls) < 0.5:
            self.fail(f"a read reached recall@{K} {min(recalls):.3f} < 0.5")
        self._check_state()
        return float(np.mean(recalls[: self.recall_reads]))

    def _check_state(self) -> None:
        """Small served batches must equal one batch search over the same
        queries: serving per request changes no answer."""
        qids = np.concatenate([q for q, _, _, _ in self.reads])
        qmat = np.vstack([m for _, m, _, _ in self.reads])
        df = self.spark.createDataFrame(
            pd.DataFrame({"qid": qids, "vec": list(qmat)}), "qid long, vec array<float>"
        )
        batch = {(r["qid"], r["rank"]): r["id"] for r in self.searcher.search(df, K).collect()}
        served = {(r["qid"], r["rank"]): r["id"] for *_, rows in self.reads for r in rows}
        if batch != served:
            diff = sum(batch.get(k) != v for k, v in served.items())
            self.fail(f"{diff} served (qid, rank) answers differ from one batch search")


class ServeIngest(Serve):
    """``Serve`` with every 5th operation an ``ivf_append`` of 200
    generated rows; reads re-attach to the newest artifact.  After 4
    appends the next one starts again from the set-up index: each append
    deepens the plan of the assignment table and grows the index, so a
    chain without end would make operations slower the longer a run
    goes."""

    cycle, CHAIN_APPENDS = 5, 4

    def _check_state(self) -> None:
        rows = self.art.tables["assignment"].count()
        want = self.N + self.n_appends * self.APPEND_ROWS
        if rows != want:
            self.fail(f"assignment holds {rows} rows; base + appended = {want}")


class Dedup(Workload):
    """Near-duplicate removal over a generated corpus:
    ``minhash_verified_pairs`` → ``near_dup_dedup``, result counted.
    One untimed pass first: the first pass of a session spends about
    half its time compiling the MinHash expressions."""

    read_kind = "pass"
    warmup_ops = 1
    N_DOCS = 2_000

    def __init__(self, *a):
        super().__init__(*a)
        self.df = self.pairs = None
        self.kept: list[int] = []

    def setup(self, rep: int) -> None:
        if self.df is not None:
            self.df.unpersist()
        with self.span("sources.gen"):
            pdf, self.planted = inputs.text_corpus(self.seed, self.N_DOCS)
            self.df = self.spark.createDataFrame(pdf, "doc_id long, text string").cache()
            self.df.count()

    def op(self, i: int) -> dict:
        if self.pairs is not None:
            self.pairs.unpersist()
        t0 = now()
        with self.span("dedup.pairs"):
            self.pairs = minhash_verified_pairs(self.df).cache()
            self.pairs.count()
        with self.span("dedup.components"):
            self.kept.append(near_dup_dedup(self.df, self.pairs).count())
        wall = now() - t0
        return {"kind": "pass", "wall": wall, "items": self.N_DOCS}

    def finish(self) -> float:
        if len(set(self.kept)) > 1:
            self.fail(f"dedup kept counts differ between passes: {self.kept}")
        removed = {
            r["doc_id"]
            for r in self.df.join(near_dup_dedup(self.df, self.pairs), "doc_id", "left_anti")
            .select("doc_id")
            .collect()
        }
        if len(removed) != self.N_DOCS - self.kept[0]:
            self.fail(f"removed {len(removed)} docs but kept {self.kept[0]} of {self.N_DOCS}")
        false_removed = removed - set(self.planted.tolist())
        if false_removed:
            self.fail(f"{len(false_removed)} removed docs were not planted duplicates")
        recall = len(removed) / len(self.planted)
        if recall < 0.9:
            self.fail(f"only {recall:.3f} of planted duplicates removed")
        return recall

    def pair_counts(self) -> tuple[int, int]:
        """(LSH candidate pairs, verified pairs) of the corpus."""
        return minhash_lsh_pairs(self.df).count(), self.pairs.count()


WORKLOADS = {
    "experiment": Experiment,
    "serve": Serve,
    "serve_ingest": ServeIngest,
    "dedup": Dedup,
}
