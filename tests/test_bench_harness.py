"""bench.py is the one measurement harness: it imports nothing from the
hand-run probes under scripts/ or tools/, and the corpus generators it
owns (the probes import them from it) keep their planted structure."""

from __future__ import annotations

import ast
import os

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _imported_modules(path: str) -> set[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            mods.add(node.module)
    return mods


def test_bench_imports_nothing_from_scripts_or_tools():
    mods = _imported_modules(os.path.join(ROOT, "bench.py"))
    assert "vectordb_retrieval_spark.session" in mods  # the scan sees nested imports
    offenders = sorted(
        m for m in mods if m.split(".")[0] in ("scripts", "tools")
    )
    assert offenders == []


@pytest.fixture(scope="module")
def bench_mod():
    import bench

    return bench


def _words(df) -> dict[int, list[str]]:
    return {r["doc_id"]: r["text"].split(" ") for r in df.collect()}


def test_dedup_docs_plant_near_duplicates(spark, bench_mod):
    docs = _words(bench_mod.synth_dedup_docs(spark, 60))
    assert len(docs[20]) == 80 and len(docs[27]) == 83
    assert docs[27][:80] == docs[20]  # doc 27 carries doc 20's body
    assert docs[28][:80] != docs[21]  # only id % 20 == 7 is planted
    assert docs[7][:80] == docs[0] and len(docs[47]) == 83


def test_substring_docs_plant_one_shared_run(spark, bench_mod):
    docs = _words(bench_mod.synth_substring_docs(spark, 60))
    for doc_id in (7, 27, 47):
        own, src = docs[doc_id], docs[doc_id - 7]
        assert len(own) == 80
        # tokens 31..40 (1-based) are copied from id - 7, and only those
        assert own[30:40] == src[30:40]
        assert own[29] != src[29] and own[40] != src[40]
    assert docs[28][30:40] != docs[21][30:40]


def test_bm25_docs_plant_needles(spark, bench_mod):
    docs = _words(bench_mod.synth_bm25_docs(spark, 1020))
    assert docs[1013][:8] == ["needle"] * 8 and len(docs[1013]) == 88
    assert sum("needle" in w for w in docs.values()) == 2  # docs 13, 1013


def test_synth_vectors_plant_clones(spark, bench_mod):
    rows = bench_mod.synth_vectors(spark, 40).collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    assert all(len(v) == 32 for v in vecs.values())
    for vid in (3, 13, 23, 33):
        gap = np.abs(vecs[vid] - vecs[vid - 3]).max()
        assert 0 < gap <= 1e-3  # a clone of id - 3 plus tiny noise
    assert np.abs(vecs[4] - vecs[1]).max() > 0.1  # unplanted ids differ
