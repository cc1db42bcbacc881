"""Text normalization — the cleanup pass every crawl corpus runs
between extraction and filtering (the OSCAR/CCNet recipe: normalize
line endings and whitespace, drop stray control bytes, squeeze
decorative punctuation runs) so downstream dedup and quality signals
see canonical text.

One chained column expression (regexp_replace pipeline, whole-stage
codegen, no UDF). Every pattern is chosen to behave identically under
Java regex (Spark) and RE2 (DuckDB): no backreferences (RE2 has none —
the punctuation squeeze is a per-character chain instead of
``([!?])\\1{3,}``), no ``\\s`` (Java's includes ``\\x0B``, RE2's does
not — explicit classes only).

Scale shape: map-side only — zero shuffles, zero joins; the pass fuses
into whatever scan feeds it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Characters whose 4+ runs squeeze to exactly 3 (decorative rules,
# "!!!!!!", "-----", "*****", "....."). Ordered, fixed: the chain applies
# in this order on both engines.
SQUEEZE_CHARS = "!?.,-=*#~_"

# C0 controls minus \t(09) \n(0A) \r(0D), plus DEL(7F). \r is normalized
# to \n BEFORE this class applies, so including 0B/0C here is what makes
# the later whitespace classes engine-identical (RE2's \s lacks \x0B).
_CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text_col(col: Column) -> Column:
    """The normalization chain as a single column expression.

    Fixed order (documented contract — reordering changes results):

    1. CRLF and bare CR to LF (plain string replace);
    2. strip C0 control characters except tab/newline, and DEL;
    3. squeeze 4+ runs of each decorative punctuation char to 3;
    4. collapse horizontal whitespace runs (space/tab) to one space;
    5. trim spaces around newlines (kills trailing-space lines and
       leading indentation);
    6. collapse 3+ consecutive newlines to a blank line;
    7. trim leading/trailing whitespace.
    """
    c = F.replace(col, F.lit("\r\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\n"))
    c = F.regexp_replace(c, _CTRL_CLASS, "")
    for ch in SQUEEZE_CHARS:
        escaped = "\\" + ch if ch in ".*?+-" else ch
        c = F.regexp_replace(c, f"{escaped}{{4,}}", ch * 3)
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r" *\n *", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    c = F.regexp_replace(c, r"^[ \n]+", "")
    c = F.regexp_replace(c, r"[ \n]+$", "")
    return c


def normalize_text(df: DataFrame) -> DataFrame:
    """(doc_id, text) → (id, text, n_chars_before, n_chars_after) —
    normalized corpus.

    ``n_chars_*`` are character counts (both engines count codepoints),
    so ``n_chars_before - n_chars_after`` is the cleanup volume metric
    curation reports track.
    """
    src = F.coalesce(F.col("text"), F.lit(""))
    return df.select(
        F.col("doc_id").alias("id"),
        normalize_text_col(src).alias("text"),
        F.length(src).cast("int").alias("n_chars_before"),
    ).select(
        "id",
        "text",
        "n_chars_before",
        F.length("text").cast("int").alias("n_chars_after"),
    )


# "UTF-8 bytes rendered as Latin-1" full-match grammar (RFC 3629 exactly:
# no overlongs, no surrogates, max U+10FFFF). A text matching this AND
# containing at least one lead byte is mojibake that ROUND-TRIPS: encode
# to ISO-8859-1 cannot fail (every char is <= U+00FF by construction) and
# re-decode as UTF-8 cannot fail (the grammar IS UTF-8 validity) -- which
# matters because Spark 4 encode/decode THROW on malformed input instead
# of replacing.
MOJIBAKE_FULL_RE = (
    "^(?:[\\x00-\\x7F]"
    "|[\\xC2-\\xDF][\\x80-\\xBF]"
    "|\\xE0[\\xA0-\\xBF][\\x80-\\xBF]"
    "|[\\xE1-\\xEC\\xEE\\xEF][\\x80-\\xBF]{2}"
    "|\\xED[\\x80-\\x9F][\\x80-\\xBF]"
    "|\\xF0[\\x90-\\xBF][\\x80-\\xBF]{2}"
    "|[\\xF1-\\xF3][\\x80-\\xBF]{3}"
    "|\\xF4[\\x80-\\x8F][\\x80-\\xBF]{2})*$"
)
MOJIBAKE_LEAD_RE = "[\\xC2-\\xF4]"


def repair_mojibake(df: DataFrame) -> DataFrame:
    """(doc_id, text) → (id, text, was_mojibake) -- repair of the single
    most common web encoding defect: UTF-8 bytes mis-decoded as Latin-1
    upstream ("cafÃ©" for "café"), the ftfy core case. A document is repaired
    ONLY when the ENTIRE text matches the UTF-8-as-Latin-1 grammar and
    contains at least one multi-byte lead char -- a conservative
    whole-document rule: mixed/ambiguous documents pass through
    untouched rather than risking double-repair corruption. The repair
    itself is ``decode(encode(text, 'ISO-8859-1'), 'UTF-8')`` -- pure
    JVM column expressions, total by construction (see
    MOJIBAKE_FULL_RE). Latin-1 only: cp1252-specific mojibake (curly
    quotes, em-dash through 0x80-0x9F) has lead sequences outside the
    grammar and passes through -- documented, not silently mangled.

    Scale shape: map-side only, fuses into the feeding scan.
    """
    src = F.coalesce(F.col("text"), F.lit(""))
    is_moji = src.rlike(MOJIBAKE_FULL_RE) & src.rlike(MOJIBAKE_LEAD_RE)
    return df.select(
        F.col("doc_id").alias("id"),
        F.when(
            is_moji, F.decode(F.encode(src, "ISO-8859-1"), "UTF-8")
        ).otherwise(src).alias("text"),
        is_moji.alias("was_mojibake"),
    )
