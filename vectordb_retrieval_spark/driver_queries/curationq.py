"""Round-9 curation-layer driver queries: exact substring (span-level)
dedup and SemDeDup-style cluster-scoped semantic dedup.

Appended LAST in the catalogue collect order so the driver's fixed
first-50 correctness slots are unchanged; these rows are verified by
the same DuckDB oracle via tools/check_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from vectordb_retrieval_spark.driver_queries.ann import (
    N_FIXED_CENTROIDS,
    ivf_fixed_centroids,
)
from vectordb_retrieval_spark.driver_queries.common import (
    docs,
    emb,
    read_parquet_cached_schema,
)
from vectordb_retrieval_spark.driver_queries.dedupq import _h60, _TOKS
from vectordb_retrieval_spark.operators.dedup import semantic_dedup
from vectordb_retrieval_spark.operators.substring import (
    duplicated_spans,
    substring_dedup,
)
from vectordb_retrieval_spark.operators.urlops import domain_stats, url_dedup

SPAN_K = 6  # 6-token windows: catches every duplicated run of >= 6 tokens
SPAN_MIN_COUNT = 2
SEM_COSINE_T = 0.4  # within-cluster pairs sit >= 1e-4 from this boundary


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_spans(docs(spark, sf_dir), SPAN_K, SPAN_MIN_COUNT).orderBy(
        "doc_id", "span_start"
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dedup(docs(spark, sf_dir), SPAN_K, SPAN_MIN_COUNT).orderBy(
        "doc_id"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = ivf_fixed_centroids(spark, sf_dir)
    return semantic_dedup(emb(spark, sf_dir), cents, SEM_COSINE_T).orderBy("vec_id")


def q_graph_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-index incremental-ingestion parity (the graph analogue of
    ivf_append_search): build hash-sharded on even vec_ids, graph_append
    the odd half (hash routing ⇒ byte-identical to a full rebuild), and
    search with the saturating forced beam ⇒ exact — so the whole
    append+search pipeline hash-checks against the plain exact-kNN
    oracle over ALL vectors."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.driver_queries.common import K, emb_queries
    from vectordb_retrieval_spark.operators.graph_ann import (
        GraphANNIndexer,
        GraphANNSearcher,
        graph_append,
    )

    base = emb(spark, sf_dir)
    art = GraphANNIndexer(m=8, ef_construction=32, num_partitions=4).build(
        base.filter(F.col("vec_id") % 2 == 0), id_col="vec_id", vec_col="embedding"
    )
    art2 = graph_append(
        art,
        base.filter(F.col("vec_id") % 2 == 1),
        id_col="vec_id",
        vec_col="embedding",
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        GraphANNSearcher(ef_search=100_000, force_beam=True)
        .attach(art2)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def q_graph_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-index deletion parity (the graph analogue of
    ivf_delete_search): delete every odd vec_id, then the exhaustive
    forced beam over the survivors must equal exact kNN restricted to
    even vec_ids."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.driver_queries.common import K, emb_queries
    from vectordb_retrieval_spark.operators.graph_ann import (
        GraphANNIndexer,
        GraphANNSearcher,
        graph_delete,
    )

    base = emb(spark, sf_dir)
    art = GraphANNIndexer(m=8, ef_construction=32, num_partitions=4).build(
        base, id_col="vec_id", vec_col="embedding"
    )
    art2 = graph_delete(
        art, base.filter(F.col("vec_id") % 2 == 1), id_col="vec_id"
    )
    qs = emb_queries(spark, sf_dir)
    res = (
        GraphANNSearcher(ef_search=100_000, force_beam=True)
        .attach(art2)
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


# -------------------------------------------------------------- oracles

def _gram_ctes(src: str = "documents") -> str:
    return f"""
toks AS (SELECT doc_id AS id, {_TOKS} AS toks FROM {src}),
gpos AS (
  SELECT id, toks, unnest(generate_series(1, len(toks) - {SPAN_K - 1})) AS pos
  FROM toks WHERE len(toks) >= {SPAN_K}
),
g AS (
  SELECT id, pos,
         {_h60(f"array_to_string(toks[pos:pos+{SPAN_K - 1}], ' ')")} AS gh
  FROM gpos
),
d AS (
  SELECT id, pos FROM (
    SELECT id, pos, count(*) OVER (PARTITION BY gh) AS cnt FROM g
  ) WHERE cnt >= {SPAN_MIN_COUNT}
)
"""


_GRAM_CTES = _gram_ctes("documents")

_SPANS_ORACLE = f"""
WITH {_GRAM_CTES},
lagd AS (
  SELECT id, pos, lag(pos, 1, pos) OVER (PARTITION BY id ORDER BY pos) AS lp
  FROM d
),
isl AS (
  SELECT id, pos,
         sum(CASE WHEN pos - lp > {SPAN_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos) AS island
  FROM lagd
)
SELECT id AS doc_id, min(pos) AS span_start,
       max(pos) + {SPAN_K - 1} AS span_end, count(*) AS n_grams
FROM isl GROUP BY id, island ORDER BY doc_id, span_start
"""

_CUT_ORACLE = f"""
WITH {_GRAM_CTES},
cov AS (
  SELECT DISTINCT id, unnest(generate_series(pos, pos + {SPAN_K - 1})) AS cpos
  FROM d
),
tokp AS (
  SELECT id, toks, unnest(generate_series(1, len(toks))) AS pos
  FROM toks WHERE len(toks) > 0
),
tok AS (SELECT id, pos, toks[pos] AS tok FROM tokp),
kept AS (
  SELECT t.id, t.pos, t.tok
  FROM tok t LEFT JOIN cov c ON c.id = t.id AND c.cpos = t.pos
  WHERE c.id IS NULL
),
reb AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS txt FROM kept GROUP BY id),
ncov AS (SELECT id, count(*) AS n_removed FROM cov GROUP BY id)
SELECT t.id AS doc_id, len(t.toks) AS n_tokens,
       coalesce(n.n_removed, 0) AS n_removed,
       md5(coalesce(r.txt, '')) AS text_hash
FROM toks t
LEFT JOIN ncov n ON n.id = t.id
LEFT JOIN reb r ON r.id = t.id
ORDER BY doc_id
"""

_SEMDEDUP_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {N_FIXED_CENTROIDS}
),
assign AS (
  SELECT id, cid AS cluster_id FROM (
    SELECT b.vec_id AS id, c.cid,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_distance(CAST(b.embedding AS DOUBLE[]), c.cv), c.cid
           ) AS rn
    FROM embeddings b CROSS JOIN c
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.id
  FROM assign a
  JOIN assign b ON a.cluster_id = b.cluster_id AND a.id < b.id
  JOIN embeddings ea ON ea.vec_id = a.id
  JOIN embeddings eb ON eb.vec_id = b.id
  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                               CAST(eb.embedding AS DOUBLE[])) >= {SEM_COSINE_T}
)
SELECT a.id AS vec_id, CAST(a.cluster_id AS INT) AS cluster_id
FROM assign a LEFT JOIN dropped d ON d.id = a.id
WHERE d.id IS NULL ORDER BY vec_id
"""

def _synth_url_col():
    """Deterministic messy URL per document — uppercase scheme/host,
    www + default port, trailing-slash variation, tracking params and a
    fragment — so normalization does real work and collisions occur
    within (source, doc_id % 15) groups.  Byte-identical to
    ``_SYNTH_URL_SQL``."""
    from pyspark.sql import functions as F

    tld = F.when(F.col("doc_id") % 3 == 0, F.lit("co.uk")).otherwise(F.lit("com"))
    return F.concat_ws(
        "",
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit("-Example."),
        tld,
        F.lit(":443/Page/"),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=t"),
        F.col("doc_id").cast("string"),
        F.lit("&b=2&a=1#frag"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir).withColumn("url", _synth_url_col())
    return url_dedup(d).orderBy("norm_url")


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir).withColumn("url", _synth_url_col())
    return domain_stats(d).orderBy("domain")


_SYNTH_URL_SQL = (
    "'HTTPS://WWW.' || source || '-Example.' || "
    "CASE WHEN doc_id % 3 = 0 THEN 'co.uk' ELSE 'com' END || "
    "':443/Page/' || CAST(doc_id % 5 AS VARCHAR) || "
    "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END || "
    "'?utm_source=t' || CAST(doc_id AS VARCHAR) || '&b=2&a=1#frag'"
)

_URL_PARTS_CTES = f"""
u0 AS (SELECT doc_id, {_SYNTH_URL_SQL} AS u FROM documents),
parts AS (
  SELECT doc_id, trim(u) AS raw_u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(
      lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
      '^www\\.', ''), ':(80|443)$', '') AS host,
    regexp_replace(
      regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
      '/+$', '') AS path,
    regexp_extract(u, '\\?([^#]*)', 1) AS q
  FROM u0
)
"""

# registered-domain CTEs (the SLD heuristic mirrors urlops._SLD) —
# shared by the domain-stats and domain-cap oracles so the
# public-suffix subset is maintained in ONE SQL copy
_DOMAIN_CTES = """lab AS (SELECT doc_id, string_split(host, '.') AS labels FROM parts),
dom AS (
  SELECT doc_id,
    CASE
      WHEN len(labels) >= 3 AND length(labels[len(labels)]) = 2
           AND labels[len(labels) - 1]
               IN ('co','com','net','org','gov','ac','edu')
        THEN array_to_string(labels[len(labels) - 2 : len(labels)], '.')
      WHEN len(labels) >= 2
        THEN array_to_string(labels[len(labels) - 1 : len(labels)], '.')
      ELSE array_to_string(labels, '.')
    END AS domain
  FROM lab
)"""


_URL_DEDUP_ORACLE = f"""
WITH {_URL_PARTS_CTES},
norm AS (
  SELECT doc_id,
         -- scheme-less/malformed fallback mirrors urlops.normalize_url:
         -- rows whose host extraction is empty keep their trimmed raw
         -- form instead of collapsing onto '://'
         CASE WHEN host = '' THEN raw_u
              ELSE scheme || '://' || host || path ||
                   CASE WHEN qn <> '' THEN '?' || qn ELSE '' END
         END AS norm_url
  FROM (
    SELECT *, array_to_string(list_sort(list_filter(string_split(q, '&'),
      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
                OR starts_with(p, 'gclid=') OR starts_with(p, 'ref=')
                OR p = ''))), '&') AS qn
    FROM parts)
)
SELECT norm_url, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM norm GROUP BY norm_url ORDER BY norm_url
"""

_DOMAIN_STATS_ORACLE = f"""
WITH {_URL_PARTS_CTES},
{_DOMAIN_CTES}
SELECT domain, count(*) AS n_docs FROM dom GROUP BY domain ORDER BY domain
"""

def q_streaming_graph_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous GRAPH ingestion (§2.9 extension, the graph analogue of
    streaming_ingest_search): build the hash-sharded graph on a quarter
    of the corpus, stream the remaining three quarters in micro-batches
    through foreachBatch → ``graph_append``, then search with the
    saturating forced beam.  Hash routing makes every append
    bit-identical to a rebuild, so the streamed index answers the plain
    exact-kNN oracle."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.driver_queries.common import K, emb_queries
    from vectordb_retrieval_spark.driver_queries.streamq import _state_partitions
    from vectordb_retrieval_spark.operators.graph_ann import (
        GraphANNIndexer,
        GraphANNSearcher,
        graph_append,
    )
    from vectordb_retrieval_spark.streaming.serving import await_or_raise

    base = emb(spark, sf_dir)
    art_holder = [
        GraphANNIndexer(m=8, ef_construction=32, num_partitions=4).build(
            base.filter(F.col("vec_id") % 4 == 0),
            id_col="vec_id",
            vec_col="embedding",
        )
    ]
    workdir = tempfile.mkdtemp(prefix="streamgraph-")
    vdir = os.path.join(workdir, "vecs")
    (
        base.filter(F.col("vec_id") % 4 != 0)
        .withColumn("batch", (F.col("vec_id") % 4).cast("int"))
        .select("batch", "vec_id", "embedding")
        .repartition(3, "batch")
        .write.partitionBy("batch")
        .parquet(vdir)
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(vdir, "batch=*"))
    )

    def sink(df: DataFrame, epoch_id: int) -> None:
        art_holder[0] = graph_append(
            art_holder[0], df, id_col="vec_id", vec_col="embedding"
        )

    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 600)

    qs = emb_queries(spark, sf_dir)
    res = (
        GraphANNSearcher(ef_search=100_000, force_beam=True)
        .attach(art_holder[0])
        .search(qs, K, qid_col="vec_id", vec_col="embedding")
    )
    return res.select("qid", "id", "rank")


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style weak-label quality classifier: multinomial NB with
    Laplace smoothing trained on the heuristic quality rules, then
    scoring the whole corpus — closed-form counts, so train AND score
    sit under one hash check."""
    from vectordb_retrieval_spark.operators.classifier import (
        nb_quality_classifier,
    )

    return nb_quality_classifier(docs(spark, sf_dir)).orderBy("doc_id")


def _nb_quality_oracle() -> str:
    from vectordb_retrieval_spark.driver_queries.textq import (
        STOPWORDS,
        _sql_str_list,
    )

    sw = _sql_str_list(STOPWORDS["en"])
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id, len(toks) AS n,
         list_sum(list_transform(toks, x -> length(x))) AS chars,
         len(list_filter(toks, x -> list_contains({sw}, x))) AS n_stop,
         list_max(list_transform(list_distinct(toks),
             w -> len(list_filter(toks, x -> x = w)))) AS top
  FROM t
),
lab AS (
  SELECT doc_id,
         CAST(n >= 20 AND n <= 400 AND chars >= 2 * n AND chars <= 12 * n
              AND n_stop > 0 AND top * 5 <= n AS INT) AS label
  FROM f
),
tok AS (SELECT t.doc_id, unnest(t.toks) AS term FROM t),
tk AS (SELECT tok.doc_id, term, label FROM tok JOIN lab USING (doc_id)),
tc AS (SELECT term, sum(label) AS c1, sum(1 - label) AS c0 FROM tk GROUP BY term),
tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0, count(*) AS v FROM tc),
cls AS (SELECT sum(label) AS d1, sum(1 - label) AS d0 FROM lab),
w AS (
  SELECT term,
         ln((c1 + 1.0) / (n1 + v)) - ln((c0 + 1.0) / (n0 + v)) AS w
  FROM tc CROSS JOIN tot
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
sc AS (
  SELECT tf.doc_id, sum(tf.tf * w.w) AS s FROM tf JOIN w USING (term)
  GROUP BY tf.doc_id
),
pri AS (SELECT ln(CAST(d1 AS DOUBLE) / d0) AS prior FROM cls)
SELECT l.doc_id, CAST(l.label AS BIGINT) AS label,
       round(coalesce(s.s, 0) + p.prior, 6) AS score,
       CAST(coalesce(s.s, 0) + p.prior > 0 AS BIGINT) AS pred
FROM lab l CROSS JOIN pri p LEFT JOIN sc s ON s.doc_id = l.doc_id
ORDER BY l.doc_id
"""


DHASH_HAMMING = 4


def q_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup: 63-bit difference hash over the
    deterministic byte stand-in bitmap, then the generic pigeonhole
    Hamming band join.  The stand-in pixels are payload bytes tiled
    onto the grid, so the WHOLE pipeline (tiling → dhash bits → band
    candidates → popcount verify) is reproduced by the SQL oracle;
    the real-codec branch swaps pixels_fn for the Pillow decoder."""
    from vectordb_retrieval_spark.operators.multimodal import (
        attach_binary_payload,
        dhash,
        hamming_near_dup_pairs,
    )

    d = attach_binary_payload(docs(spark, sf_dir))
    h = dhash(d)
    return hamming_near_dup_pairs(h, max_hamming=DHASH_HAMMING).orderBy("a", "b")


def _dhash_terms(col: str) -> str:
    """The 63 difference-hash bit terms over a string column — the SQL
    twin of operators/multimodal._stub_pixels + dhash bit packing.
    greatest(..., 1) guards the modulo against empty strings (the
    engine side maps an empty payload to a zero grid -> dhash 0,
    matched by an outer CASE at the call sites)."""
    terms = []
    for j in range(63):
        r, c = divmod(j, 9)
        p0, p1 = r * 10 + c, r * 10 + c + 1
        u0 = f"unicode(substr({col}, ({p0} % greatest(length({col}), 1)) + 1, 1))"
        u1 = f"unicode(substr({col}, ({p1} % greatest(length({col}), 1)) + 1, 1))"
        terms.append(f"CASE WHEN {u0} > {u1} THEN {1 << (62 - j)} ELSE 0 END")
    return " + ".join(terms)


def _dhash_oracle() -> str:
    dh = _dhash_terms("text")
    return f"""
WITH h AS (SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0
                ELSE CAST({dh} AS BIGINT) END AS dh FROM documents)
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dh, b.dh)) <= {DHASH_HAMMING}
ORDER BY a, b
"""


RESAMPLE_S = 3600


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resample of the events stream with forward-fill
    over empty buckets (pandas resample/asfreq semantics, distributed;
    integer-cents sums so the values hash exactly)."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.temporal import resample

    ev = read_parquet_cached_schema(spark, f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return resample(ev, interval_s=RESAMPLE_S, fill="ffill").orderBy(
        "user_id", "bucket"
    )


_RESAMPLE_ORACLE = f"""
WITH e AS (
  SELECT user_id AS key, epoch_us(ts) // {RESAMPLE_S * 1_000_000} AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
agg AS (
  SELECT key, bucket, count(*) AS n_events, sum(cents) AS sum_cents
  FROM e GROUP BY key, bucket
),
spans AS (SELECT key, min(bucket) AS b0, max(bucket) AS b1 FROM agg GROUP BY key),
grid AS (SELECT key, unnest(generate_series(b0, b1)) AS bucket FROM spans),
j AS (
  SELECT g.key, g.bucket, coalesce(a.n_events, 0) AS n_events, a.sum_cents
  FROM grid g LEFT JOIN agg a ON a.key = g.key AND a.bucket = g.bucket
)
SELECT key AS user_id, bucket, n_events, sum_cents,
       last_value(sum_cents IGNORE NULLS) OVER (
         PARTITION BY key ORDER BY bucket ROWS UNBOUNDED PRECEDING
       ) AS fill_cents
FROM j ORDER BY user_id, bucket
"""


BPE_MERGES = 10


def q_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction + token accounting: learn BPE_MERGES
    merges from the corpus word-frequency table, then report each
    document's word and BPE-token counts.  Inherently iterative (each
    merge depends on the last), so this entry carries NO SQL oracle —
    the driver records a rows-only check; exactness is pinned by
    tests/test_bpe.py against a pure-python reference implementation."""
    from vectordb_retrieval_spark.operators.bpe import bpe_segment, bpe_train

    d = docs(spark, sf_dir)
    merges = bpe_train(d, n_merges=BPE_MERGES)
    return bpe_segment(d, merges).orderBy("id")


RERANK_K, RERANK_CAND = 10, 30


def q_rerank_bm25_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: BM25 recall (top-{RERANK_CAND}) re-scored
    by exact token-set Jaccard (top-{RERANK_K}) — the retrieve-then-
    rerank serving stack with the whole cascade under one hash check.
    The cross-encoder model branch shares this plumbing (env-gated,
    operators/rerank.py)."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.driver_queries.retrievalq import MULTI_QUERIES
    from vectordb_retrieval_spark.operators.rerank import jaccard_rerank
    from vectordb_retrieval_spark.operators.text_retrieval import bm25_search

    d = docs(spark, sf_dir)
    qdf = spark.createDataFrame(
        MULTI_QUERIES, schema="qid long, terms array<string>"
    )
    cands = bm25_search(d, qdf, k=RERANK_CAND)
    res = jaccard_rerank(cands, d, qdf, top_k=RERANK_K)
    return res.select(
        "qid", "doc_id", F.round("score", 6).alias("score"), "rank"
    ).orderBy("qid", "rank")


def _rerank_oracle() -> str:
    from vectordb_retrieval_spark.driver_queries.retrievalq import _MQ_VALUES

    return f"""
WITH qterms(qid, term) AS (VALUES {_MQ_VALUES}),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dl USING (doc_id)
  JOIN dfreq USING (term)
  CROSS JOIN stats
  GROUP BY q.qid, tf.doc_id
),
cand AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
             AS rank
    FROM scored
  ) WHERE rank <= {RERANK_CAND}
),
qsets AS (SELECT qid, list_distinct(list(term)) AS qset FROM qterms GROUP BY qid),
dsets AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '')) AS dset
  FROM documents
),
sc AS (
  SELECT c.qid, c.doc_id,
         len(list_intersect(q.qset, d.dset))
           / greatest(len(list_distinct(list_concat(q.qset, d.dset))), 1)
           AS score
  FROM cand c JOIN qsets q USING (qid) JOIN dsets d USING (doc_id)
),
rr AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
           AS rank
  FROM sc
)
SELECT qid, doc_id, round(score, 6) AS score, rank
FROM rr WHERE rank <= {RERANK_K} ORDER BY qid, rank
"""


WEB_MIN_TOKENS = 10
WEB_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
WEB_SPLIT_SEED = 21


def q_curate_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end web curation: URL dedup → substring cut → length
    gate → split, composed from this round's operators so the stage
    WIRING sits under one hash check (the web-side companion of
    pipeline_curate_corpus)."""
    from vectordb_retrieval_spark.operators.curate import curate_web

    d = docs(spark, sf_dir).withColumn("url", _synth_url_col())
    return curate_web(
        d,
        k=SPAN_K,
        min_count=SPAN_MIN_COUNT,
        min_tokens=WEB_MIN_TOKENS,
        split_weights=WEB_SPLIT_WEIGHTS,
        seed=WEB_SPLIT_SEED,
    ).orderBy("doc_id")


def _web_split_case() -> str:
    from vectordb_retrieval_spark.operators.sampling import _P, sample_hash_sql

    total = sum(WEB_SPLIT_WEIGHTS.values())
    labels = sorted(WEB_SPLIT_WEIGHTS)
    acc, whens = 0.0, []
    h = sample_hash_sql("doc_id", WEB_SPLIT_SEED)
    for name in labels[:-1]:
        acc += WEB_SPLIT_WEIGHTS[name] / total
        whens.append(f"WHEN {h} < {int(acc * _P)} THEN '{name}'")
    return f"CASE {' '.join(whens)} ELSE '{labels[-1]}' END"


def _curate_web_oracle() -> str:
    return f"""
WITH {_URL_PARTS_CTES},
norm AS (
  SELECT doc_id,
         -- scheme-less/malformed fallback mirrors urlops.normalize_url:
         -- rows whose host extraction is empty keep their trimmed raw
         -- form instead of collapsing onto '://'
         CASE WHEN host = '' THEN raw_u
              ELSE scheme || '://' || host || path ||
                   CASE WHEN qn <> '' THEN '?' || qn ELSE '' END
         END AS norm_url
  FROM (
    SELECT *, array_to_string(list_sort(list_filter(string_split(q, '&'),
      p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
                OR starts_with(p, 'gclid=') OR starts_with(p, 'ref=')
                OR p = ''))), '&') AS qn
    FROM parts)
),
keepers AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY norm_url ORDER BY doc_id) AS r
    FROM norm
  ) WHERE r = 1
),
surv AS (SELECT d0.* FROM documents d0 JOIN keepers USING (doc_id)),
{_gram_ctes("surv")},
cov AS (
  SELECT DISTINCT id, unnest(generate_series(pos, pos + {SPAN_K - 1})) AS cpos
  FROM d
),
tokp AS (
  SELECT id, toks, unnest(generate_series(1, len(toks))) AS pos
  FROM toks WHERE len(toks) > 0
),
tok AS (SELECT id, pos, toks[pos] AS tok FROM tokp),
kept AS (
  SELECT t.id, t.pos, t.tok
  FROM tok t LEFT JOIN cov c ON c.id = t.id AND c.cpos = t.pos
  WHERE c.id IS NULL
),
reb AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS txt FROM kept GROUP BY id),
ncov AS (SELECT id, count(*) AS n_removed FROM cov GROUP BY id),
cut AS (
  SELECT t.id AS doc_id,
         len(t.toks) - coalesce(n.n_removed, 0) AS clean_len,
         md5(coalesce(r.txt, '')) AS text_hash
  FROM toks t
  LEFT JOIN ncov n ON n.id = t.id
  LEFT JOIN reb r ON r.id = t.id
)
SELECT doc_id, {_web_split_case()} AS split, clean_len, text_hash
FROM cut WHERE clean_len >= {WEB_MIN_TOKENS} ORDER BY doc_id
"""


MINE_POS, MINE_NEG, ANCHOR_MOD = 3, 5, 25


def q_mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (DPR/ANCE prep): BM25 positives + dense
    hard negatives per anchor doc; doc_id and vec_id share a key space
    in the synthetic corpus."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.mining import mine_hard_negatives

    d = docs(spark, sf_dir)
    e = emb(spark, sf_dir)
    anchors = d.select(F.col("doc_id").alias("qid")).filter(
        F.col("qid") % ANCHOR_MOD == 0
    )
    return mine_hard_negatives(d, e, anchors, MINE_POS, MINE_NEG).orderBy(
        "qid", "role", "rank"
    )


_MINING_ORACLE = f"""
WITH anchors AS (SELECT doc_id AS qid FROM documents WHERE doc_id % {ANCHOR_MOD} = 0),
qterms AS (
  SELECT a.qid, unnest(list_distinct(list_filter(
           string_split_regex(d.text, '\\s+'), x -> x <> ''))) AS term
  FROM anchors a JOIN documents d ON d.doc_id = a.qid
),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN qterms q USING (term)
  JOIN dl USING (doc_id)
  JOIN dfreq USING (term)
  CROSS JOIN stats
  GROUP BY q.qid, tf.doc_id
),
pos AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
  FROM scored WHERE doc_id <> qid
),
qv AS (
  SELECT a.qid, CAST(e.embedding AS DOUBLE[]) AS qvec
  FROM anchors a JOIN embeddings e ON e.vec_id = a.qid
),
dense AS (
  SELECT q.qid, b.vec_id AS id,
         1.0 - list_cosine_similarity(q.qvec, CAST(b.embedding AS DOUBLE[])) AS dist
  FROM qv q CROSS JOIN embeddings b
),
neg AS (
  SELECT d.qid, d.id,
         row_number() OVER (PARTITION BY d.qid ORDER BY d.dist, d.id) AS rank
  FROM dense d
  LEFT JOIN (SELECT qid, doc_id FROM pos WHERE rank <= {MINE_POS}) p
    ON p.qid = d.qid AND p.doc_id = d.id
  WHERE d.id <> d.qid AND p.qid IS NULL
)
SELECT qid, doc_id, 'pos' AS role, rank FROM pos WHERE rank <= {MINE_POS}
UNION ALL
SELECT qid, id AS doc_id, 'neg' AS role, rank FROM neg WHERE rank <= {MINE_NEG}
ORDER BY qid, role, rank
"""


VIDEO_FRAME_BYTES, VIDEO_MAX_H, VIDEO_MIN_MATCH = 48, 4, 3


def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level near-dup by frame vote: each document becomes TWO
    synthetic 'videos' (the original and a tail-mutated copy — their
    leading frames are byte-identical), frames are sampled at a fixed
    byte stride, per-frame 63-bit dhashes feed the pigeonhole Hamming
    band join keyed by frame position, and videos pair when >=
    VIDEO_MIN_MATCH frame positions match within VIDEO_MAX_H bits.
    Composes frame_sample's chunking, dhash, and the band-join — the
    whole pipeline reproduced by the SQL oracle on the byte stand-in
    frames; a real pipeline swaps the frame extractor only."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.multimodal import (
        attach_binary_payload,
        frame_dhash,
        video_near_dup_pairs,
    )

    d = docs(spark, sf_dir)
    vids = d.select(
        (F.col("doc_id") * 2).alias("doc_id"), "text"
    ).unionByName(
        d.select(
            (F.col("doc_id") * 2 + 1).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" v2 extra tail marker")).alias(
                "text"
            ),
        )
    )
    frames = frame_dhash(
        attach_binary_payload(vids), every_n_bytes=VIDEO_FRAME_BYTES
    )
    return video_near_dup_pairs(
        frames, max_hamming=VIDEO_MAX_H, min_matched_frames=VIDEO_MIN_MATCH
    ).orderBy("a", "b")


def _video_neardup_oracle() -> str:
    dh = _dhash_terms("chunk")
    return f"""
WITH vids AS (
  SELECT doc_id * 2 AS vid, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1, text || ' v2 extra tail marker' FROM documents
),
fr AS (
  SELECT vid, text,
         unnest(generate_series(0, (length(text) - 1) // {VIDEO_FRAME_BYTES})) AS f
  FROM vids WHERE length(text) >= 1
),
frames AS (
  SELECT vid, CAST(f AS INT) AS frame_idx,
         substr(text, CAST(f * {VIDEO_FRAME_BYTES} + 1 AS BIGINT), {VIDEO_FRAME_BYTES}) AS chunk
  FROM fr
),
h AS (
  SELECT vid, frame_idx,
         CASE WHEN length(chunk) = 0 THEN 0
              ELSE CAST({dh} AS BIGINT) END AS dh
  FROM frames
),
m AS (
  SELECT a.vid AS a, b.vid AS b, a.frame_idx
  FROM h a JOIN h b ON a.frame_idx = b.frame_idx AND a.vid < b.vid
  WHERE bit_count(xor(a.dh, b.dh)) <= {VIDEO_MAX_H}
)
SELECT a, b, CAST(count(DISTINCT frame_idx) AS BIGINT) AS n_matched
FROM m GROUP BY a, b
HAVING count(DISTINCT frame_idx) >= {VIDEO_MIN_MATCH}
ORDER BY a, b
"""


DOMAIN_CAP_N = 3


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-share cap (Gopher/MassiveWeb): keep at most DOMAIN_CAP_N
    docs per registered domain, lowest id first — one row_number window
    on the registered domain."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.urlops import (
        domain_cap,
        registered_domain,
    )

    d = docs(spark, sf_dir).withColumn("url", _synth_url_col())
    return (
        domain_cap(d, DOMAIN_CAP_N)
        .select(
            "doc_id", registered_domain(F.col("url")).alias("domain")
        )
        .orderBy("doc_id")
    )


_DOMAIN_CAP_ORACLE = f"""
WITH {_URL_PARTS_CTES},
{_DOMAIN_CTES},
rk AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS r
  FROM dom
)
SELECT doc_id, domain FROM rk WHERE r <= {DOMAIN_CAP_N} ORDER BY doc_id
"""


WINNOW_K, WINNOW_W = 5, 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003): min-hash of each
    sliding window of WINNOW_W consecutive WINNOW_K-gram hashes,
    rightmost on ties — the MOSS-style guaranteed-coverage document
    fingerprint, selected by ONE integer min window per document."""
    from vectordb_retrieval_spark.operators.substring import (
        winnow_fingerprints,
    )

    return winnow_fingerprints(
        docs(spark, sf_dir), k=WINNOW_K, window=WINNOW_W
    ).orderBy("doc_id", "pos", "fp")


_WINNOW_ORACLE = f"""
WITH toks AS (SELECT doc_id AS id, {{toks}} AS toks FROM documents),
gpos AS (
  SELECT id, toks, unnest(generate_series(1, len(toks) - {WINNOW_K - 1})) AS pos
  FROM toks WHERE len(toks) >= {WINNOW_K}
),
g AS (
  SELECT id, pos,
         {{h60}} AS gh
  FROM gpos
),
enc AS (
  SELECT id, pos,
         (gh >> 20) * 1048576 + (1048575 - pos) AS e
  FROM g
),
ng AS (SELECT id, max(pos) AS n FROM g GROUP BY id),
wm AS (
  SELECT id, pos,
         min(e) OVER (PARTITION BY id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wmin
  FROM enc
)
SELECT DISTINCT w.id AS doc_id,
       CAST(1048575 - (wmin % 1048576) AS BIGINT) AS pos,
       CAST(wmin // 1048576 AS BIGINT) AS fp
FROM wm w JOIN ng ON ng.id = w.id
WHERE w.pos <= ng.n - {WINNOW_W - 1}
ORDER BY doc_id, pos, fp
"""


def _winnow_oracle() -> str:
    grams = f"array_to_string(toks[pos:pos+{WINNOW_K - 1}], ' ')"
    return _WINNOW_ORACLE.format(toks=_TOKS, h60=_h60(grams))


def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document k-gram novelty (share of windows unique corpus-wide,
    integer per-mille) — the corpus-level duplication-fraction quality
    signal; same gram projection + count window as substring dedup."""
    from vectordb_retrieval_spark.operators.substring import gram_novelty

    return gram_novelty(docs(spark, sf_dir), k=SPAN_K).orderBy("doc_id")


_NOVELTY_ORACLE = f"""
WITH {_GRAM_CTES}
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS novelty_pm
FROM (SELECT id, pos, count(*) OVER (PARTITION BY gh) AS cnt FROM g)
GROUP BY id ORDER BY doc_id
"""


MMR_K, MMR_CAND, MMR_DIM, MMR_NQ = 10, 30, 8, 5


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank (Carbonell & Goldstein 1998) over
    synthetic INTEGER embeddings (md5-derived components in -10..10 —
    pipeline_embed_knn's trick): dot products and MMR scores are exact,
    so the greedy selection reproduces bit-for-bit in the DuckDB
    recursive-CTE oracle.  Per query: top-MMR_CAND candidates by dot
    relevance, then greedy lambda=0.5 MMR for MMR_K."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.dedup import hash60
    from vectordb_retrieval_spark.operators.rerank import mmr_rerank

    def comp(i: int):
        return (
            hash60(F.concat(F.col("doc_id").cast("string"), F.lit(f":{i}")))
            % 21
            - 10
        ).cast("double")

    d = docs(spark, sf_dir)
    e = d.select(
        "doc_id", F.array(*[comp(i) for i in range(MMR_DIM)]).alias("vec")
    )
    q = e.filter(F.col("doc_id") < MMR_NQ).select(
        F.col("doc_id").alias("qid"), F.col("vec").alias("qvec")
    )
    rel = (
        q.crossJoin(e)
        .filter(F.col("doc_id") != F.col("qid"))
        .withColumn(
            "rel",
            F.expr(
                "aggregate(zip_with(qvec, vec, (x, y) -> x * y), "
                "0D, (a, x) -> a + x)"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("doc_id"))
    cand = rel.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= MMR_CAND
    )
    return mmr_rerank(
        cand.select("qid", "doc_id", "rel", "vec"), k=MMR_K
    ).orderBy("qid", "mmr_rank")


def _mmr_oracle() -> str:
    def comp(tbl: str, i: int) -> str:
        src = f"{tbl}.doc_id || ':{i}'"
        return f"({_h60(src)} % 21 - 10)"

    emb_cols = ", ".join(
        f"{comp('documents', i)} AS c{i}" for i in range(MMR_DIM)
    )
    dot_qe = " + ".join(f"q.c{i} * e.c{i}" for i in range(MMR_DIM))
    dot_ab = " + ".join(f"a.c{i} * b.c{i}" for i in range(MMR_DIM))
    keep = ", ".join(f"e.c{i}" for i in range(MMR_DIM))
    return f"""
WITH RECURSIVE
emb AS (SELECT doc_id, {emb_cols} FROM documents),
q AS (SELECT * FROM emb WHERE doc_id < {MMR_NQ}),
rel AS (
  SELECT q.doc_id AS qid, e.doc_id, CAST({dot_qe} AS BIGINT) AS rel, {keep}
  FROM q JOIN emb e ON e.doc_id <> q.doc_id
),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY rel DESC, doc_id) AS rk
    FROM rel
  ) WHERE rk <= {MMR_CAND}
),
psim AS (
  SELECT a.qid, a.doc_id AS d1, b.doc_id AS d2, CAST({dot_ab} AS BIGINT) AS sim
  FROM cand a JOIN cand b ON a.qid = b.qid AND a.doc_id <> b.doc_id
),
sel AS (
  SELECT qid, [doc_id] AS picked, doc_id AS chosen, 1 AS step
  FROM (SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS r
        FROM cand) WHERE r = 1
  UNION ALL
  SELECT qid, list_append(picked, doc_id), doc_id, step + 1
  FROM (
    SELECT s.qid, s.picked, c.doc_id, s.step,
           row_number() OVER (
             PARTITION BY s.qid
             ORDER BY c.rel - (SELECT max(p.sim) FROM psim p
                        WHERE p.qid = s.qid AND p.d1 = c.doc_id
                          AND list_contains(s.picked, p.d2)) DESC,
                      c.doc_id
           ) AS r
    FROM sel s JOIN cand c ON c.qid = s.qid
    WHERE NOT list_contains(s.picked, c.doc_id) AND s.step < {MMR_K}
  ) WHERE r = 1
)
SELECT qid, chosen AS doc_id, CAST(step AS INT) AS mmr_rank
FROM sel ORDER BY qid, mmr_rank
"""


BIGRAM_ALPHA = 0.5


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM quality score (the CCNet-style perplexity
    gate, one n-gram order up from text_unigram_logprob)."""
    from vectordb_retrieval_spark.operators.textops import bigram_logprob

    return bigram_logprob(docs(spark, sf_dir), alpha=BIGRAM_ALPHA).orderBy(
        "doc_id"
    )


_BIGRAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
big AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM toks WHERE len(toks) >= 2)
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
v AS (SELECT count(DISTINCT t) AS v
      FROM (SELECT unnest(toks) AS t FROM toks)),
sc AS (
  SELECT b.doc_id,
         log10((c2.c2 + {BIGRAM_ALPHA}) / (ctx.c1 + {BIGRAM_ALPHA} * v.v)) AS lp
  FROM big b JOIN c2 USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(lp), 6) AS logprob
FROM sc GROUP BY doc_id ORDER BY doc_id
"""


PCA_DIM, PCA_OUT = 16, 4


def _hadamard_sign(r: int, j: int) -> int:
    return 1 if bin(r & j).count("1") % 2 == 0 else -1


def q_pca_fixed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-transform plumbing check (the fixed-rotation analogue of
    sq8_calibration): project md5-derived INTEGER 16-d vectors through
    a preset orthonormal rotation (4 Hadamard rows / 4 — entries ±0.25,
    so every coordinate is an exact multiple of 0.25) via
    quant.encode_df, and emit the 4x-scaled integer coordinates.
    Exercises the exact encode path IVF-PCA serving decodes."""
    import numpy as np
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.dedup import hash60
    from vectordb_retrieval_spark.operators.quant import PCACodec, encode_df

    def comp(i: int):
        return (
            hash60(F.concat(F.col("doc_id").cast("string"), F.lit(f"#{i}")))
            % 21
            - 10
        ).cast("double")

    d = docs(spark, sf_dir)
    e = d.select(
        "doc_id", F.array(*[comp(i) for i in range(PCA_DIM)]).alias("vec")
    )
    rot = np.array(
        [
            [_hadamard_sign(r, j) / 4.0 for j in range(PCA_DIM)]
            for r in (1, 2, 4, 8)
        ]
    )
    enc = encode_df(PCACodec(PCA_OUT, rotation=rot), e, "vec")
    return enc.select(
        "doc_id",
        *[
            (F.element_at("codes", i + 1) * 4).cast("long").alias(f"y{i}")
            for i in range(PCA_OUT)
        ],
    ).orderBy("doc_id")


def _pca_oracle() -> str:
    def comp(i: int) -> str:
        src = f"documents.doc_id || '#{i}'"
        return f"({_h60(src)} % 21 - 10)"

    cols = []
    for yi, r in enumerate((1, 2, 4, 8)):
        terms = " + ".join(
            f"({_hadamard_sign(r, j)}) * x{j}" for j in range(PCA_DIM)
        )
        cols.append(f"CAST({terms} AS BIGINT) AS y{yi}")
    xs = ", ".join(f"{comp(i)} AS x{i}" for i in range(PCA_DIM))
    return f"""
WITH e AS (SELECT doc_id, {xs} FROM documents)
SELECT doc_id, {', '.join(cols)}
FROM e ORDER BY doc_id
"""


AUDIO_FRAME_SAMPLES, AUDIO_MAX_H, AUDIO_MIN_MATCH = 192, 2, 1


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint audio near-dup (the third training-data
    modality, alongside image dhash and video frame vote): each
    document becomes TWO synthetic 'tracks' (original + tail-mutated —
    leading samples byte-identical), frames of 192 PCM stand-in
    samples get a 63-bit band-energy-delta fingerprint
    (Haitsma-Kalker scheme over 64 contiguous bands), and tracks pair
    when >= AUDIO_MIN_MATCH frame positions match within AUDIO_MAX_H
    bits via the shared pigeonhole Hamming band join.  The whole
    pipeline (sample stand-in → band energies → bit packing → band
    join → frame vote) is reproduced by the SQL oracle; a real
    pipeline swaps pcm_fn for the stdlib-WAV decoder
    (multimodal._wav_pcm, exercised in tests)."""
    from pyspark.sql import functions as F

    from vectordb_retrieval_spark.operators.multimodal import (
        attach_binary_payload,
        audio_fingerprint,
        audio_near_dup_pairs,
    )

    d = docs(spark, sf_dir)
    tracks = d.select(
        (F.col("doc_id") * 2).alias("doc_id"), "text"
    ).unionByName(
        d.select(
            (F.col("doc_id") * 2 + 1).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" audio tail mutation")).alias(
                "text"
            ),
        )
    )
    frames = audio_fingerprint(
        attach_binary_payload(tracks, modality="audio"),
        frame_samples=AUDIO_FRAME_SAMPLES,
    )
    return audio_near_dup_pairs(
        frames, max_hamming=AUDIO_MAX_H, min_matched_frames=AUDIO_MIN_MATCH
    ).orderBy("a", "b")


def _audio_neardup_oracle() -> str:
    # ASCII-only contract (see multimodal._stub_pcm): this twin samples
    # per-character CODEPOINTS (unicode(substr(...))) while the stub
    # samples UTF-8 OCTETS — identical on the all-ASCII gate corpora,
    # divergent on multi-byte characters.  Same convention as the
    # image/video stub oracles.
    band = AUDIO_FRAME_SAMPLES // 64
    return f"""
WITH tracks AS (
  SELECT doc_id * 2 AS tid, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1, text || ' audio tail mutation' FROM documents
),
pos AS (
  SELECT tid, text, unnest(generate_series(0, length(text) - 1)) AS i
  FROM tracks WHERE length(text) >= 1
),
samples AS (
  SELECT tid, CAST(i AS BIGINT) AS i,
         CAST(unicode(substr(text, CAST(i + 1 AS BIGINT), 1)) AS BIGINT) AS s
  FROM pos
),
bands AS (
  SELECT tid, i // {AUDIO_FRAME_SAMPLES} AS frame_idx,
         (i % {AUDIO_FRAME_SAMPLES}) // {band} AS band, sum(s * s) AS e
  FROM samples GROUP BY 1, 2, 3
),
fp AS (
  SELECT x.tid, x.frame_idx,
         CAST(sum(CASE WHEN x.e > coalesce(y.e, 0)
                       THEN (CAST(1 AS BIGINT) << CAST(62 - x.band AS INT))
                       ELSE 0 END) AS BIGINT) AS afp
  FROM bands x LEFT JOIN bands y
    ON y.tid = x.tid AND y.frame_idx = x.frame_idx AND y.band = x.band + 1
  WHERE x.band < 63
  GROUP BY 1, 2
)
SELECT p.tid AS a, q.tid AS b,
       CAST(count(DISTINCT p.frame_idx) AS BIGINT) AS n_matched
FROM fp p JOIN fp q ON p.frame_idx = q.frame_idx AND p.tid < q.tid
WHERE bit_count(xor(p.afp, q.afp)) <= {AUDIO_MAX_H}
GROUP BY 1, 2 HAVING count(DISTINCT p.frame_idx) >= {AUDIO_MIN_MATCH}
ORDER BY a, b
"""


def q_classifier_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ROC operating curve of the NB quality classifier: (score
    threshold, tp, fp, fn, tn) per distinct rounded score, descending —
    AUC / precision / recall / F1 at every threshold derive from it.
    Scores group on round(score, 6) so threshold groups are engine-
    independent (raw log-odds sums differ at ULP level)."""
    from vectordb_retrieval_spark.operators.classifier import (
        nb_quality_classifier,
        roc_curve,
    )

    from pyspark.sql import functions as F

    scored = nb_quality_classifier(docs(spark, sf_dir))
    return roc_curve(scored).orderBy(F.col("score").desc())


def _classifier_roc_oracle() -> str:
    nb = _nb_quality_oracle().strip().rstrip()
    # reuse the whole NB train+score oracle as a subquery, then the
    # cumulative curve over distinct rounded scores
    inner = nb[: nb.rindex("ORDER BY")]
    return f"""
WITH scored AS ({inner}),
g AS (
  SELECT score, sum(label) AS pos, sum(1 - label) AS neg
  FROM scored GROUP BY score
),
tot AS (SELECT sum(label) AS n_pos, sum(1 - label) AS n_neg FROM scored)
SELECT g.score,
       CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
       CAST(sum(neg) OVER (ORDER BY score DESC) AS BIGINT) AS fp,
       CAST(n_pos - sum(pos) OVER (ORDER BY score DESC) AS BIGINT) AS fn,
       CAST(n_neg - sum(neg) OVER (ORDER BY score DESC) AS BIGINT) AS tn
FROM g CROSS JOIN tot
ORDER BY score DESC
"""


BLEU_N = 4


def q_sentence_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document smoothed sentence BLEU-{BLEU_N} between a
    deterministic candidate (all 3-letter tokens dropped — shorter AND
    lexically different, so both the brevity penalty and the clipped
    n-gram precisions do real work) and the original text as reference.
    Integer clipped/total counts per n plus the rounded score — the
    whole eval metric under one hash check, computed as pure per-row
    column expressions (no shuffle)."""
    from vectordb_retrieval_spark.operators.dedup import tokens_expr
    from vectordb_retrieval_spark.operators.textops import sentence_bleu

    from pyspark.sql import functions as F

    d = (
        docs(spark, sf_dir)
        .select("doc_id", tokens_expr(F.col("text")).alias("ref"))
        .withColumn("cand", F.expr("filter(ref, x -> length(x) != 3)"))
    )
    return sentence_bleu(d, "cand", "ref", n_max=BLEU_N).orderBy("doc_id")


def _sentence_bleu_oracle() -> str:
    def grams(col: str, n: int) -> str:
        if n == 1:
            return col
        return (
            f"list_transform(generate_series(1, len({col}) - {n - 1}), "
            f"i -> array_to_string({col}[i:i+{n - 1}], ' '))"
        )

    cols, logs = [], []
    for n in range(1, BLEU_N + 1):
        cg, rg = grams("cand", n), grams("ref", n)
        clip = (
            f"coalesce(list_sum(list_transform(list_distinct({cg}), "
            f"g -> least(len(list_filter({cg}, x -> x = g)), "
            f"len(list_filter({rg}, x -> x = g))))), 0)"
        )
        cols.append(f"CAST({clip} AS BIGINT) AS clip_{n}")
        cols.append(f"CAST(len({cg}) AS BIGINT) AS tot_{n}")
        smooth = 0 if n == 1 else 1
        logs.append(
            f"ln((clip_{n} + {smooth}) / CAST(tot_{n} + {smooth} AS DOUBLE))"
        )
    mean_log = "(" + " + ".join(logs) + f") / {float(BLEU_N)}"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS ref FROM documents),
tc AS (
  SELECT doc_id, ref, list_filter(ref, x -> length(x) != 3) AS cand FROM t
),
counted AS (
  SELECT doc_id, len(cand) AS cand_len, len(ref) AS ref_len,
         {', '.join(cols)}
  FROM tc
)
SELECT doc_id, cand_len, ref_len,
       {', '.join(f'clip_{n}, tot_{n}' for n in range(1, BLEU_N + 1))},
       CASE WHEN cand_len > 0 AND clip_1 > 0 THEN
         round(exp(least(0.0, 1.0 - ref_len / CAST(cand_len AS DOUBLE)))
               * exp({mean_log}), 6)
       ELSE 0.0 END AS bleu
FROM counted ORDER BY doc_id
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency law fit over the documents corpus: one-row
    (n_types, n_tokens, slope, intercept, r2) least-squares diagnostic
    — natural-language corpora fit slope ~ -1, so drift flags
    machine-generated or duplication-heavy data.  Closed-form moment
    sums, so the whole fit sits under one hash check."""
    from vectordb_retrieval_spark.operators.textops import zipf_fit

    return zipf_fit(docs(spark, sf_dir))


_ZIPF_ORACLE = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
w AS (SELECT unnest(toks) AS w FROM t),
c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM c),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(ln(rnk)) AS sx, sum(ln(cnt)) AS sy,
         sum(ln(rnk) * ln(rnk)) AS sxx, sum(ln(rnk) * ln(cnt)) AS sxy,
         sum(ln(cnt) * ln(cnt)) AS syy, sum(cnt) AS n_tokens
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_types, CAST(n_tokens AS BIGINT) AS n_tokens,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
"""


def _knn_oracles():
    from vectordb_retrieval_spark.driver_queries.knn import DIST_EXPRS, KNN_ORACLE

    full = KNN_ORACLE.format(dist_expr=DIST_EXPRS["l2"])
    survivors = full.replace(
        "CROSS JOIN embeddings b",
        "CROSS JOIN embeddings b WHERE b.vec_id % 2 = 0",
    )
    return full, survivors


_GRAPH_APPEND_ORACLE, _GRAPH_DELETE_ORACLE = _knn_oracles()

QUERIES = {
    "substring_dup_spans": q_substring_spans,
    "substring_dedup_cut": q_substring_dedup,
    "semantic_dedup_fixed": q_semantic_dedup,
    "url_normalize_dedup": q_url_dedup,
    "url_domain_stats": q_domain_stats,
    "graph_append_search": q_graph_append_search,
    "graph_delete_search": q_graph_delete_search,
    "streaming_graph_ingest": q_streaming_graph_ingest,
    "mine_hard_negatives": q_mine_hard_negatives,
    "pipeline_curate_web": q_curate_web,
    "rerank_bm25_jaccard": q_rerank_bm25_jaccard,
    "bpe_token_budget": q_bpe_token_budget,
    "events_resample_ffill": q_events_resample,
    "multimodal_dhash_pairs": q_dhash_pairs,
    "quality_nb_classifier": q_nb_quality,
    "multimodal_video_neardup": q_video_neardup,
    "url_domain_cap": q_domain_cap,
    "text_winnow_fingerprints": q_winnow_fingerprints,
    "text_gram_novelty": q_gram_novelty,
    "rerank_mmr_diverse": q_mmr_rerank,
    "text_bigram_logprob": q_bigram_logprob,
    "pca_fixed_project": q_pca_fixed_project,
    "multimodal_audio_neardup": q_audio_neardup,
    "eval_classifier_roc": q_classifier_roc,
    "eval_sentence_bleu": q_sentence_bleu,
    "text_zipf_fit": q_zipf_fit,
}

ORACLES = {
    "substring_dup_spans": _SPANS_ORACLE,
    "substring_dedup_cut": _CUT_ORACLE,
    "semantic_dedup_fixed": _SEMDEDUP_ORACLE,
    "url_normalize_dedup": _URL_DEDUP_ORACLE,
    "url_domain_stats": _DOMAIN_STATS_ORACLE,
    "graph_append_search": _GRAPH_APPEND_ORACLE,
    "graph_delete_search": _GRAPH_DELETE_ORACLE,
    "streaming_graph_ingest": _GRAPH_APPEND_ORACLE,
    "mine_hard_negatives": _MINING_ORACLE,
    "pipeline_curate_web": _curate_web_oracle(),
    "rerank_bm25_jaccard": _rerank_oracle(),
    "events_resample_ffill": _RESAMPLE_ORACLE,
    "multimodal_dhash_pairs": _dhash_oracle(),
    "quality_nb_classifier": _nb_quality_oracle(),
    "multimodal_video_neardup": _video_neardup_oracle(),
    "url_domain_cap": _DOMAIN_CAP_ORACLE,
    "text_winnow_fingerprints": _winnow_oracle(),
    "text_gram_novelty": _NOVELTY_ORACLE,
    "rerank_mmr_diverse": _mmr_oracle(),
    "text_bigram_logprob": _BIGRAM_ORACLE,
    "pca_fixed_project": _pca_oracle(),
    "multimodal_audio_neardup": _audio_neardup_oracle(),
    "eval_classifier_roc": _classifier_roc_oracle(),
    "eval_sentence_bleu": _sentence_bleu_oracle(),
    "text_zipf_fit": _ZIPF_ORACLE,
}
