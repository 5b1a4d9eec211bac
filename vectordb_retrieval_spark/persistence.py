"""Index artifact persistence with fingerprint gating.

Reference counterpart: the CoverTree persistence layer
(covertree_v2_2.py:101-282,525-615) — directory of arrays + a
``manifest.json`` carrying schema version, metric, dims, dataset
fingerprint and config hash, a ``WRITE_COMPLETE`` sentinel, atomic
write via temp-dir rename, and validation on load — plus the runner's
sha256 fingerprint gating of index reuse
(experiment_runner.py:155-157,274-344).

Spark-native shape: every artifact table lands as Parquet under
``<path>/tables/<name>``; small params (centroids, projections,
codebooks) serialize as ``.npy``/JSON under ``<path>/params``.  The
directory is written to a temp sibling and atomically renamed, then the
sentinel lands last — a crashed writer can never look complete.  At
cluster scale the same layout works on any Hadoop-compatible FS (the
rename is the job-commit analogue; tables use Spark's own committer).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from typing import Any

import numpy as np
from pyspark.sql import SparkSession

from vectordb_retrieval_spark.artifacts import IndexArtifact

SCHEMA_VERSION = 1
SENTINEL = "WRITE_COMPLETE"
MANIFEST = "manifest.json"


def config_fingerprint(payload: dict[str, Any]) -> str:
    """sha256 of a canonical-JSON payload (reference:
    experiment_runner.py:155-157).  The payload should describe the
    dataset (name/size/dim) and the build config — never the raw data,
    which at 100 TB is unhashable by design."""
    blob = json.dumps(payload, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()


def _write_params(params: dict[str, Any], pdir: str) -> dict[str, str]:
    os.makedirs(pdir, exist_ok=True)
    kinds: dict[str, str] = {}
    plain: dict[str, Any] = {}
    for key, val in params.items():
        if key.startswith("_"):
            # derived in-memory caches (e.g. graph_ann's collected
            # shard blobs) — rebuilt on demand, never persisted
            continue
        if isinstance(val, np.ndarray):
            np.save(os.path.join(pdir, f"{key}.npy"), val)
            kinds[key] = "ndarray"
        elif isinstance(val, (list, tuple)) and val and isinstance(
            val[0], np.ndarray
        ):
            np.savez(
                os.path.join(pdir, f"{key}.npz"),
                **{str(i): a for i, a in enumerate(val)},
            )
            kinds[key] = "ndarray_list"
        else:
            try:
                json.dumps(val)
                plain[key] = val
                kinds[key] = "json"
            except TypeError:
                # engine-produced objects (codecs) — trusted pickles
                import pickle

                with open(os.path.join(pdir, f"{key}.pkl"), "wb") as fh:
                    pickle.dump(val, fh)
                kinds[key] = "pickle"
    with open(os.path.join(pdir, "params.json"), "w") as fh:
        json.dump(plain, fh, default=str)
    return kinds


def _read_params(pdir: str, kinds: dict[str, str]) -> dict[str, Any]:
    with open(os.path.join(pdir, "params.json")) as fh:
        params: dict[str, Any] = json.load(fh)
    for key, kind in kinds.items():
        if kind == "ndarray":
            params[key] = np.load(os.path.join(pdir, f"{key}.npy"))
        elif kind == "ndarray_list":
            z = np.load(os.path.join(pdir, f"{key}.npz"))
            params[key] = [z[str(i)] for i in range(len(z.files))]
        elif kind == "pickle":
            import pickle

            with open(os.path.join(pdir, f"{key}.pkl"), "rb") as fh:
                params[key] = pickle.load(fh)
    return params


def save_artifact(
    artifact: IndexArtifact, path: str, fingerprint: str | None = None
) -> None:
    """Atomically persist an artifact directory:
    tables/<name>/ (Parquet), params/, manifest.json, sentinel last."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".artifact-", dir=parent)
    try:
        part_cols: dict[str, list[str]] = artifact.metadata.get("partition_by", {})
        # an IVF-family artifact's row view is re-derived from its
        # packed blobs at load: only the blobs are written
        tables = {
            name: df
            for name, df in artifact.tables.items()
            if name != "assignment" or "packed" not in artifact.tables
        }
        for name, df in tables.items():
            writer = df.write.mode("overwrite")
            # tables partitioned on disk keep their pruning column at
            # cluster scale (probe joins prune partitions at the scan)
            if name in part_cols:
                writer = writer.partitionBy(*part_cols[name])
            writer.parquet(os.path.join(tmp, "tables", name))
        kinds = _write_params(artifact.params, os.path.join(tmp, "params"))
        manifest = {
            "schema_version": SCHEMA_VERSION,
            "kind": artifact.kind,
            "tables": sorted(tables),
            "param_kinds": kinds,
            "metadata": artifact.metadata,
            "fingerprint": fingerprint,
        }
        with open(os.path.join(tmp, MANIFEST), "w") as fh:
            json.dump(manifest, fh, indent=2, default=str)
        with open(os.path.join(tmp, SENTINEL), "w") as fh:
            fh.write("ok\n")
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def artifact_size_bytes(path: str) -> int:
    """Total on-disk size of a persisted artifact (reference analogue:
    index memory estimation, experiment_runner.py:490-744 — here the
    honest Spark metric is the Parquet artifact footprint)."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
    return total


def compact_partitions(
    spark: SparkSession, path: str, ids_df, id_col: str = "id"
) -> int:
    """Apply a delete set (``ids_df``'s ``id_col``) to a PERSISTED
    IVF-family artifact's packed blob table by rewriting only the
    ``cluster_id`` partitions that hold deleted ids — the compaction
    half of the tombstone/compact trade ``ivf_delete`` documents.
    Returns the number of partitions rewritten (0 = nothing touched).

    Mechanics: the delete set is collected; one pass over the blobs'
    ids (``ivf.clusters_holding``) finds the affected partitions, and
    ``ivf.drop_ids`` (the blob filter ``ivf_delete`` runs) filters
    their blobs into a sibling temp directory; then each affected
    partition dir is swapped in with an os.rename (untouched
    partitions keep their files byte-for-byte); a partition whose
    every row is deleted is removed outright.  The source directory is
    never read and written in the same job — a failed write leaves the
    artifact untouched (an in-place overwrite could recompute from
    partially overwritten files on cache eviction).  Renames are atomic
    on a single filesystem; at cluster scale a table format
    (Iceberg/Delta) gives the same selective rewrite transactionally —
    this is the plain-Parquet form with the artifact's sentinel as the
    guard."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.ivf import clusters_holding, drop_ids

    part_col = "cluster_id"
    tdir = os.path.join(path, "tables", "packed")
    if not os.path.exists(os.path.join(path, SENTINEL)):
        raise FileNotFoundError(f"{path}: not a complete artifact")
    df = spark.read.parquet(tdir)
    if part_col not in df.columns:
        raise ValueError(
            f"packed is not partitioned by {part_col!r}; "
            "compaction needs the partitioned layout"
        )
    gone = ids_df.select(F.col(id_col)).toPandas()[id_col].to_numpy()
    affected = clusters_holding(df, gone)
    if not affected:
        return 0
    survivors = drop_ids(df.filter(F.col(part_col).isin(affected)), gone)
    tmp = tdir + ".compact-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        # write job completes against the UNTOUCHED source first ...
        survivors.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
        # ... then swap each affected partition dir in atomically; a
        # fully-deleted partition has no tmp dir and is removed.
        for p in affected:
            src = os.path.join(tmp, f"{part_col}={p}")
            dst = os.path.join(tdir, f"{part_col}={p}")
            old = dst + ".old"
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(dst):
                os.rename(dst, old)
            if os.path.exists(src):
                os.rename(src, dst)
            shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return len(affected)


def load_artifact(
    spark: SparkSession, path: str, expect_fingerprint: str | None = None
) -> IndexArtifact:
    """Load + validate a persisted artifact (reference validation:
    covertree_v2_2.py:184-282 — sentinel, schema version, fingerprint
    must all match)."""
    if not os.path.exists(os.path.join(path, SENTINEL)):
        raise FileNotFoundError(
            f"{path}: missing {SENTINEL} sentinel (incomplete or absent write)"
        )
    with open(os.path.join(path, MANIFEST)) as fh:
        manifest = json.load(fh)
    if manifest["schema_version"] != SCHEMA_VERSION:
        raise ValueError(
            f"{path}: schema_version {manifest['schema_version']} != {SCHEMA_VERSION}"
        )
    if expect_fingerprint is not None and manifest.get("fingerprint") != expect_fingerprint:
        raise ValueError(
            f"{path}: fingerprint mismatch (have {manifest.get('fingerprint')!r},"
            f" want {expect_fingerprint!r})"
        )
    tables = {
        name: spark.read.parquet(os.path.join(path, "tables", name))
        for name in manifest["tables"]
    }
    params = _read_params(os.path.join(path, "params"), manifest["param_kinds"])
    art = IndexArtifact(
        kind=manifest["kind"],
        tables=tables,
        params=params,
        metadata=manifest.get("metadata", {}),
    )
    if art.kind == "ivf":
        from vectordb_retrieval_spark.operators.ivf import loaded

        art = loaded(art)
    return art
