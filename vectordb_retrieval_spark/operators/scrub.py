"""PII scrubbing for training-data pipelines.

The reference engine has no text-cleaning surface (its corpus prep,
``src/dataprep`` in Human-Augment-Analytics/vectordb-retrieval, embeds
text as-is); a production pipeline must redact contact/identifier
strings before training.  Pure ``regexp_replace`` / ``regexp_extract_all``
column expressions — JVM-side, codegen-friendly, embarrassingly
parallel; the patterns avoid lookaround/backrefs so they evaluate
identically under Java regex (Spark) and RE2 (DuckDB oracle).

This is pattern-based scrubbing — the standard first pass (emails, IPv4,
US-style phone/SSN shapes).  Model-based NER scrubbing would slot in as
a ``mapInPandas`` stage like sources/embedder.py's model path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Order matters: SSN before phone (a bare 123-45-6789 must not be
# half-eaten by the phone shape), email before IP (user@10.0.0.1 is
# redacted as an email).
#
# The phone shape is boundary-anchored (round-8 advisor finding): a
# country code without "+" must end in a separator, the 3-3-4 core is
# \b-anchored on both sides, and compact international numbers need a
# literal "+".  A bare run of 11+ digits (numeric id, card number,
# hash) therefore never matches — only 10-digit runs, which genuinely
# are phone-shaped.  \b is ASCII word boundary in both Java and RE2.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (
        "phone",
        r"(?:\+\d{7,14}\b"
        r"|(?:\+?\d{1,3}[-. ])?\(?\b\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b)",
        "<PHONE>",
    ),
]


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact PII and count what was found:
    (doc_id, text_clean, n_email, n_ssn, n_ip, n_phone).

    Counts are taken on the PROGRESSIVELY scrubbed text (each pattern
    counts matches the earlier redactions left behind), mirroring the
    replacement order — so counts always equal the number of tokens
    inserted, even for overlapping shapes."""
    cols = [F.col(id_col).alias("doc_id")]
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).alias(
                f"n_{name}"
            )
        )
        cur = F.regexp_replace(cur, pat, token)
    return df.select(*cols, cur.alias("text_clean"), *counts)


def pii_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level scrub report: one row —
    (n_docs, docs_with_pii, n_email, n_ssn, n_ip, n_phone).
    A single partial-aggregable pass (map-side combine; no shuffle of
    document text)."""
    per_doc = pii_scrub(df, id_col, text_col)
    any_pii = (
        (F.col("n_email") + F.col("n_ssn") + F.col("n_ip") + F.col("n_phone"))
        > 0
    ).cast("long")
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum(any_pii).alias("docs_with_pii"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_ssn").alias("n_ssn"),
        F.sum("n_ip").alias("n_ip"),
        F.sum("n_phone").alias("n_phone"),
    )
