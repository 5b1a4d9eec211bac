"""Property-based tests (hypothesis) for the numeric core and the
top-k/metrics contracts.  NumPy-level properties run many examples;
Spark-level properties use a handful of generated cases per run."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from vectordb_retrieval_spark.functions.distance import (
    normalize_rows,
    pairwise_distances,
)
from vectordb_retrieval_spark.functions.kernels import rowwise_distance
from vectordb_retrieval_spark.operators.graph_ann import (
    _batched_beam,
    _build_nsw,
    _pad_adjacency,
)

finite_f32 = st.floats(
    min_value=-100, max_value=100, allow_nan=False, width=32
)


def mats(rows, cols):
    return arrays(np.float32, (rows, cols), elements=finite_f32)


@given(
    q=mats(4, 6),
    b=mats(7, 6),
    metric=st.sampled_from(["l2", "cosine", "ip"]),
)
@settings(max_examples=60, deadline=None)
def test_pairwise_matches_rowwise(q, b, metric):
    """The GEMM matrix kernel and the aligned row kernel must agree."""
    if metric == "cosine":
        # rows of exact zeros make cosine undefined; normalize_rows maps
        # them to 0-vectors consistently in both kernels
        pass
    full = pairwise_distances(q, b, metric)
    for i in range(len(q)):
        rows = rowwise_distance(np.repeat(q[i : i + 1], len(b), axis=0), b, metric)
        np.testing.assert_allclose(full[i], rows, rtol=1e-6, atol=1e-6)


@given(q=mats(3, 5), b=mats(6, 5))
@settings(max_examples=60, deadline=None)
def test_l2_properties(q, b):
    d = pairwise_distances(q, b, "l2")
    assert (d >= 0).all()
    # identity: d(x, x) == 0
    dd = pairwise_distances(b, b, "l2")
    np.testing.assert_allclose(np.diag(dd), 0.0, atol=1e-4)
    # symmetry
    np.testing.assert_allclose(dd, dd.T, rtol=1e-6, atol=1e-6)


@given(m=mats(5, 4))
@settings(max_examples=60, deadline=None)
def test_normalize_rows_unit_or_zero(m):
    m64 = m.astype(np.float64)
    n = normalize_rows(m64)
    norms = np.linalg.norm(n, axis=1)
    for orig, nn in zip(np.linalg.norm(m64, axis=1), norms):
        if orig == 0:
            assert nn == 0
        else:
            assert nn == pytest.approx(1.0, abs=1e-9)


@given(
    n=st.integers(min_value=2, max_value=40),
    seed=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=25, deadline=None)
def test_beam_search_exhaustive_is_exact(n, seed):
    """ef >= n on a connected NSW graph must return the true NNs."""
    rng = np.random.RandomState(seed)
    mat = rng.randn(n, 3).astype(np.float32)
    adj = _build_nsw(mat, m=4, ef_construction=max(8, n), metric="l2")
    q = rng.randn(1, 3).astype(np.float32)
    _bd, bi = _batched_beam(mat, _pad_adjacency(adj), q, ef=n, metric="l2")
    d = np.sqrt(((mat - q[0]) ** 2).sum(axis=1))
    want = set(np.argsort(d, kind="stable")[: min(5, n)])
    got = set(bi[0, : min(5, n)].tolist())
    assert got == want


@given(
    n=st.integers(min_value=3, max_value=120),
    n_q=st.integers(min_value=1, max_value=24),
    ef=st.integers(min_value=1, max_value=32),
    seed=st.integers(min_value=0, max_value=1000),
    metric=st.sampled_from(["l2", "cosine", "ip"]),
)
@settings(max_examples=40, deadline=None)
def test_beam_invariants_narrow_ef(n, n_q, ef, seed, metric):
    """The NARROW beam (ef < n — the paths the exhaustive oracle never
    exercises: bound pre-filter, full-live merge fast path, sentinel
    adjacency) must always satisfy the kernel's contract:

    - per query, live slots are a prefix, ascending by distance;
    - every emitted distance equals a recompute against the base row
      (the beam never mislabels which node a distance belongs to);
    - no node appears twice in one query's beam;
    - the entry node's true distance is an upper bound for slot 0
      (slot 0 is the best node the walk SAW, which includes the entry).
    """
    rng = np.random.RandomState(seed)
    mat = rng.randn(n, 4).astype(np.float32)
    q = rng.randn(n_q, 4).astype(np.float32)
    if metric == "cosine":
        # the kernel's cosine contract: base rows AND queries arrive
        # pre-normalized (GraphANNSearcher normalizes upstream)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-9)
        q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-9)
    adj = _build_nsw(mat, m=3, ef_construction=8, metric="l2")
    bd, bi = _batched_beam(mat, _pad_adjacency(adj), q, ef=ef, metric=metric)
    m32 = mat.astype(np.float32)
    for r in range(n_q):
        live = bi[r] >= 0
        n_live = int(live.sum())
        assert live[:n_live].all(), "live slots must be a prefix"
        ids = bi[r, :n_live]
        assert len(set(ids.tolist())) == n_live, "duplicate node in beam"
        d = bd[r, :n_live]
        assert (np.diff(d) >= 0).all(), "beam not ascending"
        want = rowwise_distance(
            np.repeat(q[r : r + 1], n_live, axis=0).astype(np.float64),
            m32[ids].astype(np.float64),
            metric,
        ).astype(np.float32)
        np.testing.assert_allclose(d, want, rtol=1e-4, atol=1e-4)
        d_entry = rowwise_distance(
            q[r : r + 1].astype(np.float64),
            m32[:1].astype(np.float64),
            metric,
        )[0]
        assert d[0] <= d_entry + 1e-4


@given(
    seed=st.integers(min_value=0, max_value=10_000),
    k=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_topk_pad_contract(spark, seed, k):
    """topk_per_query + pad_topk: exactly k rows per query, ranks 1..k,
    real rows sorted by (dist, id), padding always trails."""
    from vectordb_retrieval_spark.operators.topk import pad_topk, topk_per_query

    rng = np.random.RandomState(seed)
    n_q, n_c = 4, rng.randint(0, 12)
    rows = [
        (int(q), int(c), float(np.round(rng.rand(), 3)))
        for q in range(n_q)
        for c in rng.choice(50, size=n_c, replace=False)
    ]
    scored = spark.createDataFrame(
        rows or [(0, 0, 0.0)], "qid long, id long, dist double"
    )
    if not rows:
        scored = scored.filter("qid < 0")  # empty frame
    queries = spark.createDataFrame([(i,) for i in range(n_q)], "qid long")
    out = pad_topk(topk_per_query(scored, k), queries, k).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(range(n_q))
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, k + 1))
        real = [r for r in rs if r.id != -1]
        pad = [r for r in rs if r.id == -1]
        assert len(real) == min(n_c, k)
        assert all(r.dist == float("inf") for r in pad)
        keys = [(r.dist, r.id) for r in real]
        assert keys == sorted(keys)


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_metrics_perfect_and_bounds(spark, seed):
    """pred == gt ⇒ every metric is exactly 1; disjoint ⇒ all 0 except
    precision/ndcg denominators stay defined."""
    from vectordb_retrieval_spark.metrics import retrieval_metrics

    rng = np.random.RandomState(seed)
    k = int(rng.randint(1, 6))
    gt_rows = [
        (q, int(100 * q + r), r)
        for q in range(3)
        for r in range(1, k + 1)
    ]
    gt = spark.createDataFrame(gt_rows, "qid long, id long, rank int")
    m = retrieval_metrics(gt, gt, k).first()
    for name in ("recall", "precision", "map", "ndcg", "hit_rate", "mrr"):
        assert m[name] == pytest.approx(1.0), name
    disjoint = spark.createDataFrame(
        [(q, int(9000 + 100 * q + r), r) for q, _i, r in gt_rows],
        "qid long, id long, rank int",
    )
    z = retrieval_metrics(disjoint, gt, k).first()
    for name in ("recall", "map", "ndcg", "hit_rate", "mrr"):
        assert z[name] == pytest.approx(0.0), name


def test_random_unit_vectors_and_format(spark):
    from vectordb_retrieval_spark.functions.vector_utils import (
        format_vector_col,
        random_unit_vectors,
    )
    import pyspark.sql.functions as F

    df = random_unit_vectors(spark, 20, 8, seed=3)
    norms = df.select(
        F.sqrt(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x)).alias("n")
    ).collect()
    assert all(abs(r.n - 1.0) < 1e-5 for r in norms)
    s = df.select(format_vector_col(F.col("vec"), 2, 3).alias("s")).first().s
    assert s.startswith("[") and "…" in s and s.endswith("(dim=8)")


@given(
    data=st.data(),
    metric=st.sampled_from(["l2", "cosine", "ip"]),
    nprobe=st.sampled_from([1, 2, 4, None]),
)
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_serving_fast_path_property(data, metric, nprobe):
    """Property: the fp32-selection serving kernel and the full-float64
    kernel emit identical (qid, id, rank) top-k sets on arbitrary
    distinct-vector inputs — the guard must catch every fp32-induced
    near-tie, including adversarially scaled and clustered data."""
    from vectordb_retrieval_spark.operators.serving import (
        PackedClusters,
        search_batch,
    )

    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    n = data.draw(st.integers(30, 300))
    dim = data.draw(st.sampled_from([3, 8, 17]))
    nlist = data.draw(st.integers(1, 6))
    scale = data.draw(st.sampled_from([1e-3, 1.0, 1e3]))
    base = (rng.randn(n, dim) * scale).astype(np.float32)
    # cluster the data so distances crowd together (harder for fp32)
    base[n // 2 :] = base[: n - n // 2] * np.float32(1.0 + 1e-4)
    k = data.draw(st.integers(1, 12))
    cents = base[rng.choice(n, nlist, replace=False)].astype(np.float64)
    b64 = base.astype(np.float64)
    assign = ((b64[:, None, :] - cents[None]) ** 2).sum(-1).argmin(1)
    order = np.argsort(assign, kind="stable")
    ucs, starts = np.unique(assign[order], return_index=True)
    bounds = np.r_[starts, n]
    ids = [
        np.arange(n, dtype=np.int64)[order][bounds[i] : bounds[i + 1]]
        for i in range(len(ucs))
    ]
    pays = [base[order][bounds[i] : bounds[i + 1]] for i in range(len(ucs))]
    idx = PackedClusters(ucs, ids, pays, None, cents)
    qmat = (rng.randn(16, dim) * scale).astype(np.float32)
    if metric == "cosine":
        norms = np.linalg.norm(qmat.astype(np.float64), axis=1, keepdims=True)
        qmat = (qmat / np.maximum(norms, 1e-30)).astype(np.float32)
    qids = np.arange(16, dtype=np.int64)
    fast = search_batch(idx, qids, qmat, nprobe, k, metric)
    exact = search_batch(idx, qids, qmat, nprobe, k, metric, exact=True)
    f = fast.sort_values(["qid", "rank"]).reset_index(drop=True)
    e = exact.sort_values(["qid", "rank"]).reset_index(drop=True)
    # id sets must match per (qid, rank) except where float64 dists tie
    # EXACTLY (tie order is then id-canonical in both paths, but dist
    # equality across different BLAS shapes is the one permitted slack)
    assert len(f) == len(e)
    same = f["id"].to_numpy() == e["id"].to_numpy()
    if not same.all():
        dd = np.abs(f["dist"].to_numpy() - e["dist"].to_numpy())
        assert dd[~same].max() < 1e-9
    np.testing.assert_allclose(
        f["dist"].to_numpy(), e["dist"].to_numpy(), atol=1e-9, rtol=1e-9
    )


def test_serving_cold_block_prereduction_exact():
    """Exhaustive plans (no primary probe phase) hit the streaming
    selection with every bound at infinity; blocks wider than 4m take
    the cold-block pre-reduction path.  Pin that path against the
    float64 exact kernel at a size that actually triggers it (cluster
    width >> 4m), for every metric."""
    from vectordb_retrieval_spark.operators.serving import (
        PackedClusters,
        search_batch,
    )

    rng = np.random.RandomState(11)
    n, dim, k = 2000, 16, 10
    base = rng.randn(n, dim).astype(np.float32)
    idx = PackedClusters(
        np.array([0]), [np.arange(n, dtype=np.int64)], [base], None, None
    )
    qids = np.arange(64, dtype=np.int64)
    for metric in ("l2", "cosine", "ip"):
        qmat = rng.randn(64, dim).astype(np.float32)
        if metric == "cosine":
            norms = np.linalg.norm(
                qmat.astype(np.float64), axis=1, keepdims=True
            )
            qmat = (qmat / np.maximum(norms, 1e-30)).astype(np.float32)
        fast = search_batch(idx, qids, qmat, None, k, metric)
        exact = search_batch(idx, qids, qmat, None, k, metric, exact=True)
        f = fast.sort_values(["qid", "rank"]).reset_index(drop=True)
        e = exact.sort_values(["qid", "rank"]).reset_index(drop=True)
        assert len(f) == len(e) == 64 * k
        assert (f["id"].to_numpy() == e["id"].to_numpy()).all()
        np.testing.assert_allclose(
            f["dist"].to_numpy(), e["dist"].to_numpy(), atol=1e-9, rtol=1e-9
        )


_WORDS = ["the", "fox", "data", "spark", "table", "row", "agg", "scan"]


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_textops_match_python_reference(spark, docs):
    """repetition_signals / quality_filter / decontam_overlap agree with
    a pure-Python Counter/set reference on random token lists.  Doc ids
    are multiples of 25 so alternating docs land on the benchmark side
    (id % 50 == 0)."""
    from collections import Counter

    from vectordb_retrieval_spark.operators.textops import (
        decontam_overlap,
        quality_filter,
        repetition_signals,
    )

    rows = [(i * 25, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")

    rep = {r.id: r for r in repetition_signals(df).collect()}
    qf = {r.id: r for r in quality_filter(df).collect()}
    for (doc_id, _), toks in zip(rows, docs):
        n = len(toks)
        top = Counter(toks).most_common(1)[0][1]
        r = rep[doc_id]
        assert r.top_word_frac == pytest.approx(top / n, abs=1e-6)
        assert r.distinct_ratio == pytest.approx(len(set(toks)) / n, abs=1e-6)
        if n >= 2:
            g2 = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            top2 = Counter(g2).most_common(1)[0][1]
            assert r.top_2gram_frac == pytest.approx(top2 / len(g2), abs=1e-6)
        else:
            assert r.top_2gram_frac is None
        chars = sum(len(t) for t in toks)
        q = qf[doc_id]
        assert q.r_len == int(20 <= n <= 400)
        assert q.r_mean_len == int(2 * n <= chars <= 12 * n)
        assert q.r_stopword == int("the" in toks)
        assert q.r_repetition == int(top * 5 <= n)
        assert q.keep == (
            q.r_len & q.r_mean_len & q.r_stopword & q.r_repetition
        )

    def shingles(toks):
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expected = {}
    for (tid, _), ttoks in zip(rows, docs):
        if tid % 50 == 0:
            continue
        for (bid, _), btoks in zip(rows, docs):
            if bid % 50 != 0:
                continue
            shared = len(shingles(ttoks) & shingles(btoks))
            if shared >= 2:
                expected[(tid, bid)] = shared
    got = {
        (r.train_id, r.bench_id): r.n_shared
        for r in decontam_overlap(df).collect()
    }
    assert got == expected


def test_decontam_join_broadcasts_bench_side(spark):
    """The benchmark side must broadcast — a sort-merge join here would
    shuffle the full training-corpus gram stream."""
    from vectordb_retrieval_spark.operators.textops import decontam_overlap

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        decontam_overlap(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _py_sample_hash(i: int, seed: int = 0) -> int:
    """Pure-python twin of sampling.sample_hash for property checks."""
    from vectordb_retrieval_spark.operators.sampling import _A1, _A2, _B, _P

    lo = ((i & _P) + seed) % _P
    hi = ((i >> 31) + seed) % _P
    return ((_A1 * lo) % _P + (_A2 * hi) % _P + _B) % _P


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=(1 << 62)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sample_hash_matches_python_and_range(spark, ids, seed):
    """Spark sample_hash == the pure-python twin for arbitrary 62-bit
    ids, and every coin lands in [0, 2^31−1) — the int64-safety and
    engine-reproducibility contract the DuckDB oracles rely on."""
    import pyspark.sql.functions as F

    from vectordb_retrieval_spark.operators.sampling import _P, sample_hash

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", sample_hash(F.col("doc_id"), seed).alias("h")
        ).collect()
    }
    for i in ids:
        assert got[i] == _py_sample_hash(i, seed)
        assert 0 <= got[i] < _P


@given(
    n=st.integers(min_value=1, max_value=200),
    chunk=st.integers(min_value=2, max_value=50),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_documents_covers_every_token_once(
    spark, n, chunk, overlap_frac
):
    """Sliding-window chunking invariants for arbitrary (n, chunk,
    overlap): chunks cover [0, n) exactly, consecutive chunks overlap
    by exactly `overlap` (except a shorter tail), and no chunk is
    contained in its predecessor."""
    from vectordb_retrieval_spark.operators.textops import chunk_documents

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    text = " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(
        (r["tok_start"], r["tok_end"], r["chunk_text"])
        for r in chunk_documents(df, chunk, overlap).collect()
    )
    assert rows[0][0] == 0 and rows[-1][1] == n
    covered = set()
    prev_end = None
    for s, e, txt in rows:
        assert e - s <= chunk
        assert txt.split(" ") == [f"w{i}" for i in range(s, e)]
        if prev_end is not None:
            assert s == prev_end - overlap  # exact stride
            assert e > prev_end  # never contained in predecessor
        covered.update(range(s, e))
        prev_end = e
    assert covered == set(range(n))


def _py_substring_model(texts: dict, k: int, min_count: int):
    """Pure-python reference for operators/substring.py semantics:
    returns (spans, cut) where spans = {(id, start, end, n_grams)} and
    cut = {id: (n_tokens, n_removed, kept_text)}."""
    gram_count: dict = {}
    positions: dict = {}
    toks_of: dict = {}
    for i, t in texts.items():
        toks = [x for x in t.split() if x]
        toks_of[i] = toks
        positions[i] = []
        for p in range(1, len(toks) - k + 2):
            g = " ".join(toks[p - 1 : p - 1 + k])
            gram_count[g] = gram_count.get(g, 0) + 1
            positions[i].append((p, g))
    spans = set()
    covered: dict = {i: set() for i in texts}
    for i, lst in positions.items():
        dups = sorted(p for p, g in lst if gram_count[g] >= min_count)
        for p in dups:
            covered[i].update(range(p, p + k))
        run: list = []
        for p in dups:
            if run and p - run[-1] > k:
                spans.add((i, run[0], run[-1] + k - 1, len(run)))
                run = []
            run.append(p)
        if run:
            spans.add((i, run[0], run[-1] + k - 1, len(run)))
    cut = {}
    for i, toks in toks_of.items():
        kept = [t for j, t in enumerate(toks, start=1) if j not in covered[i]]
        cut[i] = (len(toks), len(covered[i]), " ".join(kept))
    return spans, cut


@given(
    n_docs=st.integers(min_value=2, max_value=6),
    doc_len=st.integers(min_value=0, max_value=40),
    vocab=st.integers(min_value=2, max_value=5),
    k=st.integers(min_value=2, max_value=5),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_substring_ops_match_python_model(spark, n_docs, doc_len, vocab, k, seed):
    """Tiny vocab ⇒ dense random gram collisions, stressing the island
    merge and the covered-token cut against a direct python model."""
    import hashlib

    from vectordb_retrieval_spark.operators.substring import (
        duplicated_spans,
        substring_dedup,
    )

    rng = np.random.RandomState(seed)
    texts = {
        i: " ".join(f"t{rng.randint(vocab)}" for _ in range(doc_len))
        for i in range(n_docs)
    }
    df = spark.createDataFrame(
        list(texts.items()), schema="doc_id long, text string"
    )
    want_spans, want_cut = _py_substring_model(texts, k, 2)
    got_spans = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicated_spans(df, k=k, min_count=2).collect()
    }
    assert got_spans == want_spans
    got_cut = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_hash)
        for r in substring_dedup(df, k=k, min_count=2).collect()
    }
    want_hashed = {
        i: (nt, nr, hashlib.md5(kept.encode()).hexdigest())
        for i, (nt, nr, kept) in want_cut.items()
    }
    assert got_cut == want_hashed


@given(
    n_rows=st.integers(1, 6),
    n_cols=st.integers(1, 40),
    k=st.integers(1, 12),
    n_vals=st.integers(1, 4),
    seed=st.integers(0, 10_000),
    ids_2d=st.booleans(),
    n_pad=st.integers(0, 40),
)
@settings(max_examples=120, deadline=None)
def test_topk_cols_tiebreak_matches_full_sort(
    n_rows, n_cols, k, n_vals, seed, ids_2d, n_pad
):
    """topk_rows == per-row full (dist, id) lexsort prefix for any
    shape, with shared (1-D) or per-row (2-D) ids, and tie density (few
    distinct values force massive boundary tie groups — the hard case).
    Up to ``n_pad`` trailing columns of each row are inf padding: every
    finite candidate must still come out in (dist, id) order, ahead of
    the padding.  The name is that of the property's first target,
    ``topk_cols_tiebreak``, which ``topk_rows`` replaced."""
    from vectordb_retrieval_spark.operators.topk import topk_rows

    rng = np.random.RandomState(seed)
    vals = np.sort(rng.randn(n_vals))
    dmat = vals[rng.randint(0, n_vals, size=(n_rows, n_cols))]
    for r in range(n_rows):
        dmat[r, n_cols - rng.randint(0, min(n_pad, n_cols) + 1) :] = np.inf
    ids = np.stack(
        [rng.permutation(n_cols * 3)[:n_cols] for _ in range(n_rows)]
    ).astype(np.int64)
    if not ids_2d:
        ids = ids[0]
    got_d, got_i = topk_rows(dmat, ids, k)
    kk = min(k, dmat.shape[1])
    assert got_d.shape == got_i.shape == (len(dmat), kk)
    for r in range(len(dmat)):
        row_ids = ids[r] if ids.ndim == 2 else ids
        order = np.lexsort((row_ids, dmat[r]))[:kk]
        fin = np.isfinite(dmat[r][order])
        assert (got_d[r] == dmat[r][order]).all(), r
        assert (got_i[r][fin] == row_ids[order][fin]).all(), r
        # padding ids fill the tail but must be ids of padded columns
        assert set(got_i[r][~fin]) <= set(row_ids[~np.isfinite(dmat[r])]), r


@given(
    n=st.integers(0, 200),
    n_q=st.integers(1, 8),
    n_vals=st.integers(1, 5),
    k=st.integers(1, 12),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=100, deadline=None)
def test_topk_groups_matches_pandas(n, n_q, n_vals, k, seed):
    """topk_groups == sort by (q, d, id), keep the first k per q, with
    1-based ranks — on unsorted input with dense distance ties."""
    import pandas as pd

    from vectordb_retrieval_spark.operators.topk import topk_groups

    rng = np.random.RandomState(seed)
    q = rng.randint(0, n_q, n).astype(np.int64)
    ids = rng.permutation(3 * n + 1)[:n].astype(np.int64)
    d = rng.randint(0, n_vals, n).astype(np.float64)
    want = (
        pd.DataFrame({"q": q, "id": ids, "d": d})
        .sort_values(["q", "d", "id"])
        .groupby("q")
        .head(k)
    )
    want_rank = want.groupby("q").cumcount().to_numpy() + 1
    gq, gi, gd, rank = topk_groups(q, ids, d, k)
    assert gq.tolist() == want["q"].tolist()
    assert gi.tolist() == want["id"].tolist()
    assert gd.tolist() == want["d"].tolist()
    assert rank.dtype == np.int32 and rank.tolist() == want_rank.tolist()
