"""Unit tests for dedup, text-analysis, and multimodal operators.

Small hand-built corpora with known answers; the sf0.01 oracle gate
(tools/check_oracle.py) covers the full-scale parity separately.
"""

from __future__ import annotations

import hashlib

import pytest

from vectordb_retrieval_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from vectordb_retrieval_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media,
    fake_decode,
    frame_sample,
)
from vectordb_retrieval_spark.operators.textops import (
    decontam_overlap,
    doc_fingerprint,
    lang_id,
    quality_filter,
    repetition_signals,
    text_quality,
    token_counts,
)

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "  The quick brown fox jumps over the lazy dog "),  # = 0 after canon
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (3, "el perro come la comida y la cena en la casa"),  # spanish
    (4, "zz"),  # too short for 3-shingles
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, schema="doc_id long, text string")


def test_exact_dedup_first_writer_wins(corpus_df):
    rows = {r.keeper_id: r.n_copies for r in exact_dedup(corpus_df).collect()}
    # doc 1 collapses onto doc 0 (case/whitespace canonicalization)
    assert rows[0] == 2
    assert 1 not in rows
    assert rows[2] == 1 and rows[3] == 1 and rows[4] == 1


def test_minhash_identical_docs_share_signature(corpus_df):
    sigs = minhash_signatures(corpus_df, n_perm=8).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r.id, {})[r.perm] = r.minhash
    # canonically-identical docs - identical signatures... but note:
    # minhash runs on raw text shingles; docs 0/1 differ only by case of
    # 'The', so their shingle sets differ in exactly the shingles
    # touching token 1.  Near-dup: most permutations agree.
    agree = sum(1 for j in range(8) if by_doc[0][j] == by_doc[1][j])
    assert agree >= 4
    # doc 4 has no 3-shingles: no signature rows at all
    assert 4 not in by_doc
    # unrelated doc 3 shares no shingles with doc 0
    assert sum(1 for j in range(8) if by_doc[0][j] == by_doc[3][j]) == 0


def test_minhash_lsh_pairs_finds_near_dups(corpus_df):
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(corpus_df, 8, 4).collect()}
    assert (0, 1) in pairs  # near-identical must collide in >=1 band
    assert all(a < b for a, b in pairs)
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_simhash_near_dups_close_in_hamming(corpus_df):
    h = {r.id: r.simhash for r in simhash(corpus_df, bits=16).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(h[0], h[2]) <= ham(h[0], h[3])
    assert 0 <= h[0] < (1 << 16)


def test_minhash_verified_pairs_subset_with_exact_jaccard(corpus_df):
    """Verified pairs ⊆ band candidates, and every survivor carries the
    exact Jaccard of the quadratic operator."""
    from vectordb_retrieval_spark.operators.dedup import minhash_verified_pairs

    cand = {(r.a, r.b) for r in minhash_lsh_pairs(corpus_df, 8, 4, 3).collect()}
    exact = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(corpus_df, 0.3, 3).collect()
    }
    got = {
        (r.a, r.b): r.jaccard
        for r in minhash_verified_pairs(corpus_df, 0.3, 8, 4, 3).collect()
    }
    assert set(got) <= cand
    for pair, j in got.items():
        assert exact[pair] == j


def test_connected_components_min_label(spark):
    """Chain 1-2-3 plus pair 10-11: every node labeled with its
    component's min id, converged well before max_iter."""
    from vectordb_retrieval_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "a long, b long"
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_raises_when_unconverged(spark):
    """A 5-edge path needs more than 3 rounds: with max_iter=3 the last
    round still changes labels, so the call raises instead of returning
    unconverged labels."""
    from vectordb_retrieval_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(5)], "a long, b long")
    with pytest.raises(RuntimeError, match="max_iter=3"):
        connected_components(pairs, max_iter=3)
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(6)}


def test_near_dup_dedup_keeps_canonical_and_unpaired(spark):
    from vectordb_retrieval_spark.operators.dedup import near_dup_dedup

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 1), (1, 4)], "a long, b long")
    kept = sorted(r.doc_id for r in near_dup_dedup(df, pairs).collect())
    # component {0,1,4} keeps 0; 2, 3, 5 are unpaired and stay
    assert kept == [0, 2, 3, 5]


def test_simhash_near_dup_pairs_equals_quadratic(corpus_df):
    """Banded candidates + verify must equal the brute-force quadratic
    Hamming filter (pigeonhole guarantees no qualifying pair is missed)."""
    from vectordb_retrieval_spark.operators.dedup import simhash_near_dup_pairs

    sh = {r.id: r.simhash for r in simhash(corpus_df, 16).collect()}
    expected = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_near_dup_pairs(corpus_df, max_hamming=3).collect()
    }
    assert got == expected

    # include_simhash rides the two fingerprints along with each pair
    with_sh = simhash_near_dup_pairs(
        corpus_df, max_hamming=3, include_simhash=True
    ).collect()
    assert {(r.a, r.b, r.hamming) for r in with_sh} == expected
    for r in with_sh:
        assert r.simhash_a == sh[r.a] and r.simhash_b == sh[r.b]


def test_ngram_jaccard_pairs(corpus_df):
    rows = {(r.a, r.b): r.jaccard for r in
            ngram_jaccard_pairs(corpus_df, threshold=0.3).collect()}
    # docs 0 and 2 share 6 of their 7 shingles each → J = 6/8
    assert rows[(0, 2)] == pytest.approx(0.75, abs=1e-6)
    assert (0, 3) not in rows


def test_quadratic_paths_guarded(spark, corpus_df):
    # both all-pairs baselines refuse oversized inputs unless forced
    with pytest.raises(ValueError, match="allow_quadratic"):
        ngram_jaccard_pairs(corpus_df, threshold=0.3, max_rows=2).count()
    rows = ngram_jaccard_pairs(
        corpus_df, threshold=0.3, max_rows=2, allow_quadratic=True
    ).collect()
    assert any((r.a, r.b) == (0, 2) for r in rows)
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        schema="vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="allow_quadratic"):
        embedding_near_dup_pairs(df, 0.9, max_rows=2)
    assert embedding_near_dup_pairs(
        df, 0.9, max_rows=2, allow_quadratic=True
    ).count() >= 1


def test_embedding_near_dup_pairs(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.999, 0.01]),  # ~same direction
            (2, [0.0, 1.0]),  # orthogonal
        ],
        schema="vec_id long, embedding array<float>",
    )
    pairs = {(r.a, r.b) for r in embedding_near_dup_pairs(df, 0.9).collect()}
    assert pairs == {(0, 1)}


def test_embedding_lsh_near_dup_subset_and_planted(spark):
    """LSH-bucketed pairs are a subset of the exact pairs, and identical
    vectors (which collide in every table) are always recovered."""
    import numpy as np

    from vectordb_retrieval_spark.operators.dedup import (
        embedding_lsh_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    mat = rng.randn(40, 8).astype(np.float32)
    mat[17] = mat[3]  # planted exact duplicate
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        schema="vec_id long, embedding array<float>",
    )
    exact = {(r.a, r.b) for r in embedding_near_dup_pairs(df, 0.8).collect()}
    lsh = {
        (r.a, r.b)
        for r in embedding_lsh_near_dup_pairs(
            df, 0.8, num_tables=3, hash_size=4
        ).collect()
    }
    assert lsh <= exact
    assert (3, 17) in lsh


def test_text_quality_features(corpus_df):
    rows = {r.id: r for r in text_quality(corpus_df).collect()}
    r0 = rows[0]
    assert r0.n_tokens == 9
    assert r0.n_chars == len(CORPUS[0][1])
    assert r0.stopword_ratio == pytest.approx(2 / 9, abs=1e-6)
    assert rows[4].n_tokens == 1


def test_lang_id_votes(corpus_df):
    langs = {r.id: r.pred_lang for r in lang_id(corpus_df).collect()}
    assert langs[0] == "en"
    assert langs[3] == "es"
    assert langs[4] == "und"


def test_token_counts(corpus_df):
    rows = {r.id: r for r in token_counts(corpus_df).collect()}
    assert rows[0].n_tokens_ws == 9
    # regex counts lowercase word runs: same 9 words for doc 0
    assert rows[0].n_tokens_re == 9


def test_doc_fingerprint_canonical_md5(corpus_df):
    rows = {r.id: r for r in doc_fingerprint(corpus_df).collect()}
    # canonicalized docs 0 and 1 must fingerprint identically
    assert rows[0].fingerprint == rows[1].fingerprint
    expected = hashlib.md5(CORPUS[0][1].encode()).hexdigest()
    assert rows[0].fingerprint == expected
    assert rows[4].winnow60 is None  # no shingles → null winnow


def test_multimodal_decode_matches_fake_decoder(corpus_df):
    out = {
        r.id: r
        for r in decode_media(
            attach_binary_payload(corpus_df), decode_fn=fake_decode
        ).collect()
    }
    want = fake_decode(CORPUS[0][1].encode())
    assert out[0].width == want["width"]
    assert out[0].height == want["height"]
    assert out[0].mean_intensity == pytest.approx(want["mean_intensity"])


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_multimodal_decode_real_codec_gate(corpus_df):
    """decode_fn=None selects the Pillow path (lazy executor-side
    import, embedder-style gate): where the library is absent the
    action raises NotImplementedError; it never silently falls back to
    the stand-in."""
    if _pil_available():
        pytest.skip("Pillow installed — gate covered by the real-branch test")
    with pytest.raises(Exception) as exc:
        decode_media(attach_binary_payload(corpus_df), decode_fn=None).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


@pytest.mark.skipif(
    not _pil_available(), reason="Pillow not installed in this environment"
)
def test_multimodal_decode_real_codec_branch(spark):
    """With Pillow present the same mapInPandas plumbing must decode a
    real image: exact dimensions and mean intensity of a synthetic
    2-tone PNG, and codec='pil' resize checksums the real bitmap."""
    import io

    import numpy as np
    from PIL import Image

    from vectordb_retrieval_spark.operators.multimodal import resize_media

    arr = np.zeros((20, 40), dtype=np.uint8)
    arr[:10, :] = 200  # top half bright
    buf = io.BytesIO()
    Image.fromarray(arr, mode="L").save(buf, format="PNG")
    payload = buf.getvalue()
    df = spark.createDataFrame([(0, bytearray(payload))], "doc_id long, payload binary")
    row = decode_media(df).collect()[0]
    assert (row.width, row.height) == (40, 20)
    assert row.mean_intensity == pytest.approx(100.0 / 255.0)
    rz = resize_media(df, 4, 4, codec="pil").collect()[0]
    # rows 0..1 of the 4x4 sample land in the bright half: 8 px * 200
    assert rz.checksum == 8 * 200


def test_frame_sample_offsets_and_fingerprints(corpus_df):
    rows = [
        r
        for r in frame_sample(attach_binary_payload(corpus_df), 16).collect()
        if r.id == 0
    ]
    text = CORPUS[0][1].encode()
    assert [r.frame_offset for r in sorted(rows, key=lambda r: r.frame_offset)] == list(
        range(0, len(text), 16)
    )
    first = next(r for r in rows if r.frame_offset == 0)
    assert first.frame_fp == int.from_bytes(hashlib.md5(text[:16]).digest()[:7], "big")


def test_resize_media_checksum(spark):
    """NN-resize of the byte-grid stand-in: checksum equals a direct
    NumPy recomputation with the same index arithmetic."""
    import hashlib as _hl

    import numpy as np

    from vectordb_retrieval_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(0, "hello multimodal world"), (1, "x" * 100)],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.out_w, r.out_h, r.checksum)
        for r in resize_media(attach_binary_payload(df), 8, 8).collect()
    }
    for did, text in [(0, "hello multimodal world"), (1, "x" * 100)]:
        raw = text.encode()
        dg = _hl.md5(raw).digest()
        w, h = 16 + dg[0] % 64, 16 + dg[1] % 64
        arr = np.frombuffer(raw, dtype=np.uint8)
        want = sum(
            int(arr[((r * h // 8) * w + (c * w // 8)) % len(raw)])
            for r in range(8)
            for c in range(8)
        )
        assert out[did] == (8, 8, want)


def test_media_features_histogram(spark):
    import numpy as np

    from vectordb_retrieval_spark.operators.multimodal import media_features

    df = spark.createDataFrame([(0, "aAzZ09")], "doc_id long, text string")
    rows = {
        (r.id, r.bin): r.n
        for r in media_features(attach_binary_payload(df), 16).collect()
    }
    arr = np.frombuffer(b"aAzZ09", dtype=np.uint8)
    want = np.bincount(arr // 16, minlength=16)
    assert len(rows) == 16
    for b in range(16):
        assert rows[(0, b)] == want[b]


def test_repetition_signals(corpus_df):
    rows = {r.id: r for r in repetition_signals(corpus_df).collect()}
    # doc 0: "the" twice of 9 tokens; 8 bigrams all distinct; 8 distinct words
    assert rows[0].top_word_frac == pytest.approx(2 / 9, abs=1e-6)
    assert rows[0].top_2gram_frac == pytest.approx(1 / 8, abs=1e-6)
    assert rows[0].distinct_ratio == pytest.approx(8 / 9, abs=1e-6)
    # single-token doc: degenerate word frac, no bigrams
    assert rows[4].top_word_frac == 1.0
    assert rows[4].top_2gram_frac is None
    assert rows[4].distinct_ratio == 1.0


def test_quality_filter_rules(corpus_df):
    rows = {r.id: r for r in quality_filter(corpus_df).collect()}
    r0 = rows[0]
    # doc 0: 9 tokens (< 20 -> r_len fails), mean len in window, has "the",
    # top word 2/9 > 1/5 -> repetition rule fails, so keep = 0
    assert (r0.r_len, r0.r_mean_len, r0.r_stopword, r0.r_repetition, r0.keep) == (
        0, 1, 1, 0, 0,
    )
    long_ok = " ".join(f"tok{i}" for i in range(30)) + " the"
    df = corpus_df.sparkSession.createDataFrame(
        [(9, long_ok)], "doc_id long, text string"
    )
    r = quality_filter(df).collect()[0]
    assert (r.r_len, r.r_mean_len, r.r_stopword, r.r_repetition, r.keep) == (
        1, 1, 1, 1, 1,
    )


def test_decontam_overlap_counts_shared_shingles(spark):
    # bench = ids % 50 == 0 (docs 0 and 50); doc 1 repeats doc 50's text
    data = [
        (0, CORPUS[0][1]),
        (50, CORPUS[1][1]),
        (1, CORPUS[1][1]),
        (4, "zz tiny"),
    ]
    df = spark.createDataFrame(data, schema="doc_id long, text string")
    rows = {
        (r.train_id, r.bench_id): r.n_shared for r in decontam_overlap(df).collect()
    }
    # identical text: all 7 distinct 3-shingles shared
    assert rows[(1, 50)] == 7
    # case-differing first shingle: 6 of 7 shared with doc 0
    assert rows[(1, 0)] == 6
    # 2-token doc has no 3-shingles, so never appears
    assert all(t != 4 for t, _ in rows)


def test_decontam_hot_gram_cap(spark):
    # the shared sentence appears in 3 bench docs; with the cap at 2 its
    # grams are dropped and train doc 1 no longer matches anything
    hot = "alpha beta gamma delta"
    data = [(0, hot), (50, hot), (100, hot), (1, hot)]
    df = spark.createDataFrame(data, schema="doc_id long, text string")
    uncapped = decontam_overlap(df).collect()
    assert {(r.train_id, r.bench_id) for r in uncapped} == {
        (1, 0), (1, 50), (1, 100),
    }
    capped = decontam_overlap(df, max_bench_gram_df=2).collect()
    assert capped == []


def test_corpus_stats(corpus_df):
    from vectordb_retrieval_spark.operators.textops import corpus_stats

    r = corpus_stats(corpus_df).collect()[0]
    assert r.n_docs == 5
    assert r.min_tokens == 1  # "zz"
    assert r.max_tokens == 11  # spanish doc
    assert r.total_tokens == 9 + 9 + 9 + 11 + 1
    # vocab across docs: case-sensitive distinct tokens
    vocab = set()
    for _, text in CORPUS:
        vocab.update(t for t in text.split() if t)
    assert r.vocab_size == len(vocab)


def test_unigram_logprob_orders_rare_garbage_low(spark):
    """A doc of corpus-unique junk tokens must score strictly below docs
    made of common tokens; smoothing keeps everything finite."""
    import math

    from vectordb_retrieval_spark.operators.textops import unigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(9)]
    rows.append((9, "zxqv9 qq7xk v0pmm zzz11 k3j9w aa0aa"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert len(out) == 10
    common = [out[i]["logprob"] for i in range(9)]
    junk = out[9]["logprob"]
    assert all(junk < c for c in common)
    assert all(math.isfinite(out[i]["logprob"]) for i in range(10))
    # hand-check one common token's contribution: 'the' appears 18 of 60
    # total body tokens... verify via the exact formula on doc 0
    toks = "the cat sat on the mat".split()
    freq = {}
    for i in range(9):
        for t in toks:
            freq[t] = freq.get(t, 0) + 1
    for t in "zxqv9 qq7xk v0pmm zzz11 k3j9w aa0aa".split():
        freq[t] = 1
    n = sum(freq.values())
    v = len(freq)
    want = sum(
        math.log10((freq[t] + 0.5) / (n + 0.5 * v)) for t in toks
    ) / len(toks)
    assert out[0]["logprob"] == round(want, 6)


def test_keyword_extract_top_terms(spark):
    """The rarest distinguishing term must rank first; exactly top_k
    rows per doc; the ranking window is doc-partitioned (plan pin)."""
    from vectordb_retrieval_spark.operators.textops import keyword_extract

    rows = [
        (0, "common common common unique0 shared"),
        (1, "common common shared shared unique1"),
        (2, "common shared other other other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = keyword_extract(df, top_k=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    specs = plan.split("windowspecdefinition(")[1:]
    assert specs and all(s.startswith("doc_id") for s in specs), plan
    rowsb = out.collect()
    per_doc = {}
    for r in rowsb:
        per_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    assert all(len(v) == 2 for v in per_doc.values())
    # doc 0: common tf3·ln2 = 2.079 beats unique0 1·ln4 = 1.386
    assert [t for _, t in sorted(per_doc[0])] == ["common", "unique0"]
    # doc 1: common 2·ln2 TIES shared 2·ln2 → term-asc tie-break
    assert [t for _, t in sorted(per_doc[1])] == ["common", "shared"]
    # doc 2: other tf3, df1 → 3·ln4 dominates
    assert sorted(per_doc[2])[0][1] == "other"


def test_dhash_locality_and_band_join(spark):
    """One-byte payload edits move the dhash by a few bits; unrelated
    payloads sit near the random-hamming mean — and the pigeonhole band
    join finds exactly the brute-force pair set."""
    import itertools

    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.multimodal import (
        attach_binary_payload,
        dhash,
        hamming_near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (0, base),
        (1, base[:-1] + "x"),          # near-identical payload
        (2, base.replace("quick", "quack")),  # small edit
        (3, "zzz completely different content with other bytes yyy " * 2),
    ]
    df = attach_binary_payload(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    h = {r.id: r.dhash for r in dhash(df).collect()}
    ham = lambda a, b: bin(h[a] ^ h[b]).count("1")  # noqa: E731
    assert ham(0, 1) <= 4 and ham(0, 2) <= 8
    assert ham(0, 3) > 10
    # band join == brute force at every threshold
    hdf = dhash(df)
    for d in (2, 4, 8):
        got = {
            (r.a, r.b, r.hamming)
            for r in hamming_near_dup_pairs(hdf, max_hamming=d).collect()
        }
        want = {
            (a, b, ham(a, b))
            for a, b in itertools.combinations(sorted(h), 2)
            if ham(a, b) <= d
        }
        assert got == want, d


def test_dhash_real_codec_gate(spark):
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.multimodal import (
        _pil_pixels,
        attach_binary_payload,
        dhash,
    )

    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present; gate not exercised")
    except ImportError:
        pass
    df = attach_binary_payload(
        spark.createDataFrame([(0, "not an image")], "doc_id long, text string")
    )
    with pytest.raises(Exception) as ei:
        dhash(df, pixels_fn=_pil_pixels).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_dhash_empty_payload(spark):
    """Empty payloads map to the zero grid -> dhash 0 instead of a
    reshape crash (advisor r9 fix)."""
    from vectordb_retrieval_spark.operators.multimodal import (
        attach_binary_payload,
        dhash,
    )

    df = attach_binary_payload(
        spark.createDataFrame([(0, ""), (1, "some text")], "doc_id long, text string")
    )
    got = {r.id: r.dhash for r in dhash(df).collect()}
    assert got[0] == 0 and got[1] != 0


def test_video_near_dup_frame_vote(spark):
    """frame_dhash + video_near_dup_pairs: a tail-mutated copy of a
    video shares all leading frames (match count = n_frames - 1), and
    the band join equals brute force over frames."""
    import itertools

    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.multimodal import (
        attach_binary_payload,
        frame_dhash,
        video_near_dup_pairs,
    )

    base = "frame content block %02d " * 10  # 240 chars -> 5 frames @48
    rows = [
        (0, base % tuple(range(10))),
        (1, (base % tuple(range(10)))[:-20] + "mutated tail xxxxxxx"),
        (2, "completely different video payload bytes " * 6),
    ]
    df = attach_binary_payload(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    fr = frame_dhash(df, every_n_bytes=48)
    frames = {(r.id, r.frame_idx): r.dhash for r in fr.collect()}
    assert max(i for (_, i) in frames) >= 3  # multiple frames per video
    got = {
        (r.a, r.b): r.n_matched
        for r in video_near_dup_pairs(
            fr, max_hamming=4, min_matched_frames=3
        ).collect()
    }
    # brute force vote
    vids = sorted({v for (v, _) in frames})
    want = {}
    for a, b in itertools.combinations(vids, 2):
        m = sum(
            1
            for (v, i), h in frames.items()
            if v == a
            and (b, i) in frames
            and bin(h ^ frames[(b, i)]).count("1") <= 4
        )
        if m >= 3:
            want[(a, b)] = m
    assert got == want and (0, 1) in got
    assert not any(2 in p for p in got)


def test_audio_fingerprint_matches_python_model(spark):
    """Engine acoustic fingerprints equal a pure-python band-energy
    model on the byte stand-in, and near-identical tracks (shared
    leading samples) pair while unrelated ones don't."""
    from vectordb_retrieval_spark.operators.multimodal import (
        _DHASH_POWERS,
        attach_binary_payload,
        audio_fingerprint,
        audio_near_dup_pairs,
    )

    base = "".join(chr(65 + (i * 7) % 26) for i in range(400))
    rows = [
        (0, base),
        (1, base + " tail mutation"),          # shares frames 0-1 with 0
        (2, "".join(chr(97 + (i * 11) % 26) for i in range(400))),
        (3, ""),                               # empty: no frames
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fr = audio_fingerprint(attach_binary_payload(df, modality="audio"))
    got = {(r.id, r.frame_idx): r.afp for r in fr.collect()}

    def py_fp(text):
        s = [ord(c) for c in text]
        out = {}
        for fi in range(-(-len(s) // 192)):
            seg = s[fi * 192 : (fi + 1) * 192]
            seg = seg + [0] * (192 - len(seg))
            e = [sum(x * x for x in seg[b * 3 : b * 3 + 3]) for b in range(64)]
            bits = [1 if e[j] > e[j + 1] else 0 for j in range(63)]
            out[fi] = sum(b << (62 - j) for j, b in enumerate(bits))
        return out

    want = {
        (did, fi): fp
        for did, text in rows
        if text
        for fi, fp in py_fp(text).items()
    }
    assert got == want
    pairs = {
        (r.a, r.b): r.n_matched
        for r in audio_near_dup_pairs(
            fr, max_hamming=2, min_matched_frames=1
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert not any(3 in p for p in pairs)


def test_audio_wav_real_decode_branch(spark):
    """The real-decode branch is stdlib wave (no env gate): a
    synthesized 16-bit PCM WAV round-trips through _wav_pcm, and the
    fingerprint pipeline runs on it with the identical batch shape."""
    import io
    import struct
    import wave

    import numpy as np

    from vectordb_retrieval_spark.operators.multimodal import (
        _wav_pcm,
        audio_fingerprint,
    )

    rng = np.random.RandomState(5)
    samples = (rng.randn(1000) * 3000).astype("<i2")

    def make_wav(arr):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(arr.tobytes())
        return buf.getvalue()

    wav = make_wav(samples)
    decoded = _wav_pcm(wav)
    assert (decoded == samples.astype(np.int64)).all()
    df = spark.createDataFrame(
        [(0, bytearray(wav)), (1, bytearray(make_wav(samples[::-1])))],
        "doc_id long, payload binary",
    )
    fr = audio_fingerprint(df, pcm_fn=_wav_pcm).toPandas()
    # 1000 samples -> 6 frames per track, 63-bit fingerprints
    assert sorted(fr["id"].unique()) == [0, 1]
    assert (fr.groupby("id")["frame_idx"].count() == 6).all()
    assert (fr["afp"] >= 0).all()
