"""PII scrubbing — pure column expressions, cross-engine regexes.

A large-scale training-data pipeline redacts personal identifiers
before anything else ships; this is the standard regex tier (the ML-NER
tier is a model call, out of scope here). Everything is JVM-side
``regexp_replace``/``regexp_count`` — no Python in the hot path, and
the patterns deliberately stay inside the syntax subset Java regex and
RE2 (DuckDB) agree on: no lookbehind, no backreferences, no
possessives — so the DuckDB gate replays them verbatim.

Order matters and is fixed: emails first (their local part would
otherwise partially match the phone pattern's digit runs), then IPv4,
then phone-shaped digit runs. Replacement tokens are the
angle-bracketed convention most open datasets use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["PII_PATTERNS", "scrub_pii"]

# (category, pattern, replacement) — applied IN ORDER
PII_PATTERNS = (
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ipv4",
        r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "<IP>",
    ),
    (
        # 9+ DIGITS (not just 9+ chars) in phone punctuation — each
        # repeat carries exactly one digit, so dotted dates
        # ("2021.10.05") and year ranges ("1999-2024", 8 digits) never
        # match while international formats do. Structural digit
        # counting, no lookahead (RE2 has none — the DuckDB gate
        # replays this verbatim).
        "phone",
        r"\+?\(?[0-9](?:[().\- ]{0,3}[0-9]){8,}",
        "<PHONE>",
    ),
)


def scrub_pii(df: DataFrame) -> DataFrame:
    """(doc_id, text) → (id, text, n_email, n_ipv4, n_phone) — redacted
    text plus the per-category match counts (counted BEFORE that
    category's replacement, on the text as already scrubbed by the
    previous categories, matching the fixed application order)."""
    out = df.select(F.col("doc_id").alias("id"), "text")
    counts = []
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count("text", F.lit(pat)))
        out = out.withColumn(
            "text", F.regexp_replace("text", pat, repl)
        )
        counts.append(f"n_{name}")
    return out.select("id", "text", *counts)
