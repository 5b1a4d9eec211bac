"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its corpus dedup is a single dict pass,
dataset.py:732-741 ``doc_lookup[text] -> idx``); these are the
Spark-native generalizations a 100 TB pipeline needs.  All hot paths are
built-in column functions (JVM/codegen) — no Python UDFs:

- exact_dedup: first-writer-wins by canonical text → groupBy(min id).
  Scale: one shuffle on a text hash, partial-aggregated map-side.
- minhash_signatures / minhash_lsh_pairs: word-shingle MinHash with
  banding.  Each shingle hashes ONCE (md5 → 60-bit int); permutation j
  is the affine map (a_j·h + b_j) mod p with p = 2^31 − 1 Mersenne and
  seeded odd a_j < p — one hash + 8 multiply-mods per shingle instead
  of 8 hashes, all 64-bit-safe so an external SQL engine reproduces it
  exactly.  Scale: explode(shingles) → per-doc min per permutation
  (partial agg, map-side combined), then a band-bucket self-join that
  only materializes colliding pairs — the standard sub-quadratic LSH
  shape.
- simhash: 16-bit sign-sum fingerprint over token hashes; hamming
  neighbors via (simhash XOR) popcount on candidate pairs.
- ngram_jaccard_pairs: exact Jaccard over distinct shingle sets for a
  bounded candidate set (quadratic — gate behind a subset or feed it
  minhash candidates at scale).
- embedding_near_dup_pairs: cosine-threshold pairs over an embedding
  column; quadratic baseline.
- embedding_lsh_near_dup_pairs: the sub-quadratic scale path — sign-LSH
  bucketing (operators.lsh), candidate pairs from shared buckets, exact
  cosine verification on candidates only.

Every function returns a DataFrame and mirrors an oracle SQL in
driver_queries.dedupq.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# hash of a string to a 60-bit integer, reproducible in DuckDB as
# CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
def hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def canonical_text(col: Column) -> Column:
    """Canonicalization before hashing/dedup: trim, collapse whitespace,
    lowercase (reference analogue: dataset.py:723-727 strip/empty→None)."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def tokens_expr(col: Column) -> Column:
    """Whitespace tokens with empties dropped — identical semantics to
    DuckDB list_filter(string_split_regex(text,'\\s+'), x -> x <> '')."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != "")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of the token list (empty if < n tokens)."""
    return token_shingles(tokens_expr(col), n)


def token_shingles(toks: Column, n: int = 3) -> Column:
    """word_shingles over an already-split token array.  ``toks`` is
    evaluated once per shingle inside the transform lambda, so pass a
    bound column (see _tokenized), not an expression."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.when(F.size(toks) >= n, F.array_distinct(shingles)).otherwise(
        F.array().cast("array<string>")
    )


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks): each document split ONCE behind a Generate barrier.
    explode(array(x)) keeps Projects from collapsing through it, so the
    shingle transforms above read ``_toks`` as an attribute instead of
    re-running the split per shingle (textops.chunk_documents, curate)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(tokens_expr(F.col(text_col)))).alias("_toks"),
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct canonical text: (keeper_id = min id, n_copies)."""
    return (
        df.select(F.col(id_col).alias("id"), canonical_text(F.col(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.min("id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


MERSENNE_P = (1 << 31) - 1


def perm_coeffs(n_perm: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic affine permutation coefficients (a_j odd, b_j) in
    [1, p): a tiny seeded LCG, reproducible in any SQL engine as plain
    integer literals (they are inlined into the oracle SQL)."""
    coeffs = []
    state = seed
    for _ in range(n_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 2)) + 1
        a |= 1  # odd → bijective-ish spread
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        coeffs.append((a, b))
    return coeffs


def _minhash_wide(
    df: DataFrame,
    n_perm: int,
    shingle_n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, m0..m{n_perm-1}): one row per document with its MinHash
    signature as wide columns — computed entirely PER ROW (array
    expressions), zero shuffles.

    One md5 per distinct shingle; permutation j is the affine map
    (a_j·(h mod p) + b_j) mod p — 64-bit-safe (a_j, h mod p < 2^31) —
    and the per-document signature value is ``array_min`` over the
    mapped hash array.  min over the same distinct-shingle hash set as
    the previous explode → groupBy(min) plan, so values are identical;
    the explode form shuffled a partial-aggregated row per document,
    this form shuffles nothing at all (r13 optimization: guide §2.4,
    remove shuffles outright).  The short-doc filter tests token count
    (cheap) rather than size(sh) so Catalyst's filter pushdown cannot
    duplicate the shingle+hash pipeline below the exchange."""
    hs = F.transform(
        token_shingles(F.col("_toks"), shingle_n),
        lambda s: hash60(s) % MERSENNE_P,
    )
    wide = (
        _tokenized(df, id_col, text_col)
        .filter(F.size("_toks") >= shingle_n)
        .select("id", hs.alias("hs"))
    )
    coeffs = perm_coeffs(n_perm)
    mins = [
        F.array_min(
            F.transform("hs", lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P)
        ).alias(f"m{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return wide.select("id", *mins)


def minhash_signatures(
    df: DataFrame,
    n_perm: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, perm, minhash): MinHash signature rows per document.
    Documents with no shingles get no rows (shorter than shingle_n)."""
    wide = _minhash_wide(df, n_perm, shingle_n, id_col, text_col)
    pairs = F.array(*[
        F.struct(F.lit(j).alias("perm"), F.col(f"m{j}").alias("minhash"))
        for j in range(n_perm)
    ])
    return wide.select("id", F.explode(pairs).alias("pm")).select(
        "id", F.col("pm.perm").alias("perm"), F.col("pm.minhash").alias("minhash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) sharing ≥1 LSH band bucket."""
    rows_per_band = n_perm // bands
    wide = _minhash_wide(df, n_perm, shingle_n, id_col, text_col)
    # band buckets straight from the wide signature columns — no
    # explode + re-group shuffle; bucket string identical to the
    # collect_list form (sorted minhashes of the band, "_"-joined)
    band_rows = F.array(*[
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws(
                "_",
                F.sort_array(
                    F.array(*[
                        F.col(f"m{band * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ])
                ),
            ).alias("bucket"),
        )
        for band in range(bands)
    ])
    banded = wide.select("id", F.explode(band_rows).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # pairs from bucket groups, not a bucket self-join: the self-join
    # evaluates the shingle+minhash pipeline once per side, and its
    # equi-join shuffles the banded table twice.  Grouping shuffles it
    # once and computes the signatures once; within a bucket the sorted
    # id list emits (a < b) pairs via a slice-explode, which streams
    # the (quadratic-per-bucket by definition) pair set instead of
    # materializing it as one array.
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        grouped.select(F.posexplode("ids").alias("i", "a"), "ids")
        .select("a", F.expr("slice(ids, i + 2, size(ids))").alias("rest"))
        .select("a", F.explode("rest").alias("b"))
        .distinct()
    )


def minhash_verified_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The production dedup pipeline: MinHash-LSH band candidates →
    exact Jaccard verification at ``threshold``.

    Scale shape: the only joins are the band-bucket self-join (collision
    pairs only) and two id-equi-joins attaching shingle sets to the
    surviving candidates — nothing quadratic in the corpus, and the
    exact-Jaccard arithmetic runs on candidates alone.  Recall is the
    banding curve 1 − (1 − s^r)^b; precision is exact."""
    cand = minhash_lsh_pairs(df, n_perm, bands, shingle_n, id_col, text_col)
    # no size(sh) > 0 filter here: a doc with no shingles has no MinHash
    # signature, so it can never appear in the candidate list — the
    # inner join below already excludes it.  The filter was worse than
    # redundant: Catalyst pushed it below the scan-spread exchange and
    # DUPLICATED the whole shingle transform (once in the pushed filter,
    # once in the projection — the §4.4 double-evaluation shape, with
    # JVM expressions instead of a UDF; seen in the r13 before-plan).
    t = _tokenized(df, id_col, text_col).select(
        "id", token_shingles(F.col("_toks"), shingle_n).alias("sh")
    )
    # one join against the shingle table, not two: melt each candidate
    # pair to (a, b, id) rows, attach shingles by id, fold back.  The
    # two-join form evaluates the corpus-wide shingle scan once per
    # side; this evaluates it once, and the fold-back shuffle is
    # candidate-proportional (2 rows per surviving pair).
    melted = cand.select(
        "a", "b", F.explode(F.array("a", "b")).alias("id")
    ).join(t, "id")
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    return (
        melted.groupBy("a", "b")
        .agg(
            F.max(F.when(F.col("id") == F.col("a"), F.col("sh"))).alias("sha"),
            F.max(F.when(F.col("id") == F.col("b"), F.col("sh"))).alias("shb"),
        )
        # both sides present (a doc with no shingles has no signature,
        # so it can never reach the candidate list — this is belt and
        # braces against a malformed pair input)
        .filter(F.col("sha").isNotNull() & F.col("shb").isNotNull())
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node in ``pairs``, where component is the
    minimum node id reachable through the pair graph.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels, so convergence needs
    O(graph diameter) rounds — near-dup graphs are dense clusters with
    tiny diameters, so this terminates in a handful of shuffle joins.
    Each round is one equi-join + partial-aggregated groupBy on node id;
    ``localCheckpoint`` truncates the lineage so round N's plan doesn't
    replay rounds 1..N−1.  (For adversarial long-chain graphs the
    large-star/small-star variant halves rounds; not needed for dedup.)
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select("src").distinct().withColumn("label", F.col("src"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("src").alias("dst"), "label"), "dst"
            )
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, "src", "left")
            .select(
                "src",
                F.least(
                    "label", F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "src")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("src").alias("id"), F.col("label").alias("component"))


def near_dup_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deduplicated corpus: keep one canonical row (the minimum id) per
    near-dup component, plus every row that is in no pair at all.

    The non-canonical members are the nodes whose component label is a
    smaller id than their own; dropping them is a broadcastable
    left-anti join (the loser set is ~duplicate count, tiny relative to
    the corpus)."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("component") != F.col("id")).select("id")
    return df.join(
        F.broadcast(losers), df[id_col] == losers["id"], "left_anti"
    )


def simhash(
    df: DataFrame,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash): sign-sum fingerprint over all token occurrences."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_expr(F.col(text_col))).alias("tk"),
    ).withColumn("h", hash60(F.col("tk")))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    wide = tok.groupBy("id").agg(*sums)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return wide.select("id", sim.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 2,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_simhash: bool = False,
) -> DataFrame:
    """Pairs (a < b) whose simhash fingerprints differ in at most
    ``max_hamming`` bits.

    Sub-quadratic by the pigeonhole principle: split the fingerprint
    into ``max_hamming + 1`` bit chunks — any pair within the Hamming
    budget must agree exactly on at least one chunk, so candidates come
    from a (chunk_idx, chunk_value) equi-self-join (the standard
    Hamming-LSH band trick) and only survivors pay the exact
    ``bit_count(a XOR b)`` verification.  No stage is quadratic in the
    corpus; the same shuffle shape as the MinHash band join.

    With ``include_simhash`` the two fingerprints ride along as
    ``simhash_a`` / ``simhash_b`` so a downstream check (or the driver
    oracle) can pin the simhash computation itself, not just the
    Hamming distances.
    """
    sh = simhash(df, bits, id_col=id_col, text_col=text_col)
    n_bands = max_hamming + 1
    widths = [bits // n_bands + (1 if i < bits % n_bands else 0) for i in range(n_bands)]
    offs = [sum(widths[:i]) for i in range(n_bands)]
    bands = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), offs[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("chunk"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select("id", "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "chunk"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x.simhash").alias("_sa"),
            F.col("y.simhash").alias("_sb"),
        )
        .distinct()
    )
    out = cand.withColumn(
        "hamming",
        F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long"),
    ).filter(F.col("hamming") <= max_hamming)
    if include_simhash:
        return out.select(
            "a",
            "b",
            "hamming",
            F.col("_sa").alias("simhash_a"),
            F.col("_sb").alias("simhash_b"),
        )
    return out.select("a", "b", "hamming")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rows: int = 20_000,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for all pairs (a < b) with
    jaccard ≥ threshold.

    Quadratic BY DESIGN (crossJoin): refuses inputs larger than
    ``max_rows`` unless ``allow_quadratic=True`` — at scale feed it LSH
    candidates (minhash_lsh_candidate_pairs) instead of raw documents.
    """
    t = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    ).filter(F.size("sh") > 0)
    if not allow_quadratic:
        # guard on the RAW input row count (an upper bound on shingled
        # rows): counting ``t`` would run the whole shingle transform
        # once for validation and again for the join
        n = df.select(id_col).count()
        if n > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs: {n} rows > max_rows={max_rows}; the "
                "all-pairs crossJoin is quadratic — pass allow_quadratic="
                "True to force it, or use minhash LSH candidates at scale"
            )
    a = t.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    b = t.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size(F.array_union("sha", "shb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def embedding_lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    num_tables: int = 2,
    hash_size: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dimension: int | None = None,
) -> DataFrame:
    """Sub-quadratic near-dup pairs (a < b, cosine sim > threshold,
    recall bounded by the LSH collision probability 1−(1−(1−θ/π)^h)^T).

    Scale shape: the bucket table self-joins on (table_id, bucket) — a
    shuffle equi-join that only materializes colliding pairs — then the
    surviving candidates join back to the vectors for exact JVM-side
    cosine verification.  No stage is quadratic in the corpus; skewed
    (huge) buckets are the one hazard and AQE skew-join handles them.
    """
    from vectordb_retrieval_spark.functions.distance import similarity_col
    from vectordb_retrieval_spark.operators.lsh import LSHIndexer

    if dimension is None:
        dimension = len(df.select(vec_col).first()[0])
    art = LSHIndexer(
        dimension,
        num_tables=num_tables,
        hash_size=hash_size,
        metric="cosine",
        seed=seed,
    ).build(df, id_col=id_col, vec_col=vec_col)
    b = art.tables["buckets"].select("id", "table_id", "bucket")
    cand = (
        b.alias("x")
        .join(b.alias("y"), ["table_id", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .filter(similarity_col(F.col("_va"), F.col("_vb"), "cosine") > threshold)
        .select("a", "b")
    )


def _seq_cos(x, y) -> float:
    """Strictly sequential float64 cosine — the association order SQL
    engines and the column-expression fold use, so near-threshold
    boundary decisions match an external oracle bit-for-bit.  Shared by
    both near-dup GEMM kernels (a fix here must hold for both).
    Returns NaN for zero-norm inputs (the fold's 0/0)."""
    dot = nx = ny = 0.0
    for xi, yi in zip(x, y):
        dot += float(xi) * float(yi)
    for xi in x:
        nx += float(xi) * float(xi)
    for yi in y:
        ny += float(yi) * float(yi)
    denom = (nx**0.5) * (ny**0.5)
    if denom == 0.0:
        return float("nan")
    return dot / denom


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Pairs (a < b) with cosine similarity > threshold.

    All-pairs baseline, executed as one GEMM per Arrow batch against the
    broadcast table (the pairwise comparison is inherently quadratic; the
    sub-quadratic scale path is LSH bucketing via operators.lsh) —
    refuses inputs larger than ``max_rows`` unless
    ``allow_quadratic=True``.  Pairs within 1e-6 of the threshold are
    re-scored with a strictly sequential float64 sum — the association
    order SQL engines and the column-expression form use — so boundary
    decisions match an external oracle bit-for-bit.
    """
    import numpy as np
    import pandas as pd

    from vectordb_retrieval_spark.functions.kernels import collect_vectors

    spark = df.sparkSession
    ids, mat = collect_vectors(df, id_col, vec_col)
    if not allow_quadratic and len(ids) > max_rows:
        raise ValueError(
            f"embedding_near_dup_pairs: {len(ids)} rows > max_rows="
            f"{max_rows}; the all-pairs comparison is quadratic — pass "
            "allow_quadratic=True to force it, or use "
            "embedding_lsh_near_dup_pairs at scale"
        )
    m64 = mat.astype(np.float64)
    bc = spark.sparkContext.broadcast((ids, m64))

    def kernel(batches):
        all_ids, all64 = bc.value
        norms = np.sqrt((all64 * all64).sum(axis=1))
        unit = all64 / np.where(norms == 0.0, 1.0, norms)[:, None]
        order = np.argsort(all_ids, kind="stable")
        pos_of = {int(i): p for p, i in enumerate(all_ids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [pos_of[int(i)] for i in pdf[id_col]]
            sims = unit[rows] @ unit.T  # (batch, n)
            out_a, out_b = [], []
            for r, arow in zip(rows, sims):
                ia = int(all_ids[r])
                cand = np.nonzero(arow > threshold - 1e-6)[0]
                for c in cand:
                    ib = int(all_ids[c])
                    if ia >= ib:
                        continue
                    s = arow[c]
                    if abs(s - threshold) <= 1e-6:
                        s = _seq_cos(all64[r], all64[c])
                    if s > threshold:
                        out_a.append(ia)
                        out_b.append(ib)
            if out_a:
                yield pd.DataFrame({"a": out_a, "b": out_b})

    return df.select(id_col).mapInPandas(kernel, schema="a long, b long")


def semantic_dedup(
    df: DataFrame,
    centroids,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 100_000,
    allow_quadratic: bool = False,
    pair_plan: str = "gemm",
) -> DataFrame:
    """SemDeDup-style cluster-scoped semantic deduplication.

    Re-expresses the recipe of Abbas et al. 2023 ("SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540) as DataFrame algebra: assign every vector to its
    nearest centroid (L2, ties to the lower centroid id), compare only
    within-cluster pairs, and drop any vector that has a lower-id
    cluster-mate with cosine similarity >= ``threshold``.  Returns the
    survivors as (vec_id, cluster_id).

    Scale: the pairwise stage is quadratic only *within* a cluster —
    the SemDeDup shape (cluster count grows with corpus size so cluster
    population stays bounded; the paper uses k ~ sqrt(n)).  Assignment
    reuses the IVF fixed-centroid kernel (broadcast centroids, one
    mapInArrow pass).  Keeper choice is the deterministic lower-id rule
    rather than the paper's farthest-from-centroid rule so an external
    SQL engine reproduces the survivor set exactly.

    Two physical pair plans (IVF serving dual-plan convention — both
    pinned equal in tests/test_dedup_text.py):

    - ``pair_plan="gemm"`` (default, the scale route): one shuffle of
    the vectors on cluster_id into an applyInPandas kernel that scores
    each cluster's pairs as a tiled float64 matmul (BLAS), rechecking
    entries within 1e-6 of the threshold with the sequential fold so
    boundary decisions match the fold plan bit-for-bit.
    - ``pair_plan="fold"`` (the oracle twin): a cluster_id self-join
    whose cosine is a float64 column-expression fold — exactly what an
    external SQL engine computes, at O(d) expression cost per pair.
    """
    if pair_plan not in ("gemm", "fold"):
        raise ValueError(f"unknown pair_plan {pair_plan!r}")
    from vectordb_retrieval_spark.operators.ivf import FixedCentroidIVFIndexer

    art = FixedCentroidIVFIndexer(centroids, metric="l2").build(
        df, id_col=id_col, vec_col=vec_col
    )
    assign = art.tables["assignment"].select(
        "id", F.col("cluster_id").cast("int").alias("cluster_id")
    )
    if not allow_quadratic:
        # the pair stage is quadratic PER CLUSTER; a runaway cluster
        # (too few centroids for the corpus) silently turns it into an
        # all-pairs join.  One cheap agg over the already-built
        # assignment catches that before the join does the damage —
        # same guard convention as embedding_near_dup_pairs.
        biggest = (
            assign.groupBy("cluster_id").count().agg(F.max("count")).first()[0]
        )
        if biggest is not None and biggest > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup: largest cluster has {biggest} rows > "
                f"max_cluster_rows={max_cluster_rows}; grow the centroid "
                "count (SemDeDup scales clusters with corpus size) or "
                "pass allow_quadratic=True to force the join"
            )
    # the assignment table ALREADY carries each vector (float32 — cast
    # to double is exact, identical to casting the source column), so
    # re-joining the source frame by id just added two exchanges and an
    # SMJ; reading (id, cluster_id, v) straight off the cached
    # cluster_id-partitioned assignment also lets the pair stage's
    # groupBy(cluster_id) reuse that partitioning with no shuffle (r13)
    sub_src = art.tables["assignment"].select(
        "id",
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("vec").cast("array<double>").alias("v"),
    )
    if pair_plan == "gemm":
        dropped = _semantic_dropped_gemm(sub_src, threshold)
        return assign.join(dropped, on="id", how="left_anti").select(
            F.col("id").alias("vec_id"), "cluster_id"
        )

    def _fold(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    # self-norms once per ROW, not once per pair (the pair count is
    # ~cluster_size x the row count); same float64 fold order as the
    # per-pair form, so boundary decisions are unchanged
    sub = sub_src.withColumn(
        "n2", _fold(F.transform("v", lambda x: x * x))
    )
    a = sub.select(
        F.col("id").alias("a"), "cluster_id",
        F.col("v").alias("va"), F.col("n2").alias("na"),
    )
    b = sub.select(
        F.col("id").alias("b"), "cluster_id",
        F.col("v").alias("vb"), F.col("n2").alias("nb"),
    )
    dot = _fold(F.zip_with("va", "vb", lambda x, y: x * y))
    # zero-safe: a zero-norm vector's cosine is undefined -> null ->
    # the pair is NOT similar (survivor), instead of an ANSI
    # divide-by-zero; NaN components still flow through as NaN, which
    # Spark orders above every number, so NaN pairs DO drop.  The GEMM
    # plan reproduces both rules (tests/test_substring_dedup.py).
    denom = F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))
    cos = F.when(denom != 0.0, dot / denom)
    dropped = (
        a.join(b, on="cluster_id")
        .filter(F.col("a") < F.col("b"))
        .filter(cos >= threshold)
        .select(F.col("b").alias("id"))
        .distinct()
    )
    return assign.join(dropped, on="id", how="left_anti").select(
        F.col("id").alias("vec_id"), "cluster_id"
    )


def _semantic_dropped_gemm(sub: DataFrame, threshold: float) -> DataFrame:
    """(id): vectors with a lower-id cluster-mate at cosine >= threshold
    — the GEMM physical plan for ``semantic_dedup``'s pair stage.

    One shuffle of (id, cluster_id, v) into applyInPandas; per cluster
    the pair scores are a tiled float64 matmul over unit-normalized rows
    (tile bounded at ~4M Gram elements so a runaway cluster degrades to
    streaming tiles, not an OOM).  Entries within 1e-6 of the threshold
    are re-scored with the strictly sequential float64 sum — the
    association order the column-expression fold and external SQL
    engines use — so the survivor set is bit-identical to the fold plan
    (pinned in tests/test_dedup_text.py)."""
    import numpy as np
    import pandas as pd

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id": []}).astype({"id": "int64"})
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        x = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt((x * x).sum(axis=1))
        unit = x / np.where(norms == 0.0, 1.0, norms)[:, None]
        dropped = np.zeros(n, dtype=bool)
        # Spark-fold parity on degenerate rows: the fold's cosine for
        # any pair involving a NaN/Inf vector is NaN, and Spark orders
        # NaN above every number, so its `cos >= threshold` predicate
        # is TRUE — every higher id paired with such a row drops.
        # numpy comparisons with NaN are False, so without this the
        # plans would diverge exactly where the pinned bit-identical
        # contract matters.  (Zero-norm rows are NOT poison: the fold
        # nulls their undefined cosine — survivor — and here their
        # pairs are masked out below, same outcome at any threshold.)
        poison = ~np.isfinite(norms)
        if poison.any():
            first = int(np.argmax(poison))
            idx = np.arange(n)
            dropped |= (idx > first) | (poison & (idx >= 1))
        zero = norms == 0.0
        tile = max(1, 4_000_000 // n)
        for s in range(0, n, tile):
            e = min(n, s + tile)
            sims = unit[s:e] @ unit.T  # (tile, n)
            # fold parity for zero-norm rows at ANY threshold: the
            # fold nulls the undefined cosine (pair never similar),
            # but a zero unit row scores 0 here, which would pass
            # `sims >= threshold - 1e-6` for threshold <= 0 — mask
            # those pairs out entirely (r10 advisor finding)
            if zero.any():
                sims[zero[s:e], :] = -np.inf
                sims[:, zero] = -np.inf
            # candidate (i, j) with i global row s+r, j > i
            cand_r, cand_j = np.nonzero(sims >= threshold - 1e-6)
            for r, j in zip(cand_r, cand_j):
                i = s + r
                if i >= j or dropped[j]:
                    continue
                sim = sims[r, j]
                if abs(sim - threshold) <= 1e-6:
                    sim = _seq_cos(x[i], x[j])
                if sim >= threshold:
                    dropped[j] = True
        return pd.DataFrame({"id": ids[dropped].astype("int64")})

    return sub.select("id", "cluster_id", "v").groupBy("cluster_id").applyInPandas(
        per_cluster, schema="id long"
    )
