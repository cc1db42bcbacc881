"""Corpus-level keep/drop filtering — the composition layer of the
training-data pipeline (FineWeb/Gopher-style): quality + repetition +
language decide per document, with machine-readable reasons.

Each signal is its own gated operator (quality_features,
repetition_stats, lang_id); this joins the three per-doc tables —
all freshly aggregated/projected on ``id``, so Catalyst plans
broadcast/co-partitioned joins — and derives:

* ``reasons``: sorted array of failed-rule tags (empty = clean)
* ``keep``: reasons is empty

Thresholds are parameters; defaults follow the usual web-corpus
filters. Reasons stay data (not logs) so downstream can audit drop
rates per rule — the standard corpus-curation report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lang_id, quality_features, repetition_stats


def corpus_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_dup_word_frac: float = 0.5,
    min_quality: float = 0.3,
    allowed_langs: tuple = (),
) -> DataFrame:
    """(id, n_words, keep, reasons) — the per-document filter verdict.

    ``allowed_langs`` empty means only 'und' (no language signal at all)
    is rejected; otherwise the prediction must be in the allow-list.
    """
    q = quality_features(docs, text_col, id_col).select(
        "id", "n_words", "quality_score"
    )
    r = repetition_stats(docs, text_col, id_col).select("id", "dup_word_frac")
    l = lang_id(docs, text_col, id_col).select("id", "lang_pred")
    j = q.join(r, "id", "left").join(l, "id", "left")
    if allowed_langs:
        bad_lang = ~F.col("lang_pred").isin(list(allowed_langs))
    else:
        bad_lang = F.col("lang_pred") == "und"
    reasons = F.array_compact(
        F.array(
            F.when(F.col("n_words") < min_words, F.lit("too_short")),
            F.when(
                F.col("dup_word_frac") > max_dup_word_frac, F.lit("repetitive")
            ),
            F.when(F.col("quality_score") < min_quality, F.lit("low_quality")),
            F.when(bad_lang, F.lit("bad_lang")),
        )
    )
    return j.select(
        "id",
        "n_words",
        F.sort_array(reasons).alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **filter_kwargs,
) -> DataFrame:
    """(metric, value) — the corpus curation report as DATA: one tall
    integer table with corpus totals (`n_docs`, `n_chars`,
    `n_ws_tokens`), the keep/drop split, per-reason drop counts
    (`reason:<tag>`) and the language mix (`lang:<code>`).

    This is the standard end-of-curation summary every pipeline publishes
    (drop rates per rule, language distribution). Values are integer
    counts ONLY, so the report is bit-stable across engines, partition
    counts and reruns. Each section is one grouped aggregation over an
    already-gated signal; at 100 TB every branch is a map-side-combinable
    count — the report costs one pass over the per-doc signal tables.
    """
    from .textstats import lang_id, token_counts

    tc = token_counts(docs, text_col, id_col)
    cf = corpus_filter(docs, text_col, id_col, **filter_kwargs)
    li = lang_id(docs, text_col, id_col)

    totals = tc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_ws_tokens").alias("n_ws_tokens"),
    ).selectExpr(
        "stack(3, 'n_docs', n_docs, 'n_chars', n_chars, "
        "'n_ws_tokens', n_ws_tokens) AS (metric, value)"
    )
    keep_split = (
        cf.groupBy("keep")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.when(F.col("keep"), F.lit("kept")).otherwise(F.lit("dropped")).alias("metric"),
            "value",
        )
    )
    reason_counts = (
        cf.select(F.explode("reasons").alias("r"))
        .groupBy("r")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.concat(F.lit("reason:"), F.col("r")).alias("metric"), "value")
    )
    lang_mix = (
        li.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.concat(F.lit("lang:"), F.col("lang_pred")).alias("metric"), "value"
        )
    )
    out = totals.unionByName(keep_split).unionByName(reason_counts).unionByName(lang_mix)
    return out.select("metric", F.col("value").cast("bigint").alias("value"))


def c4_gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_sentences, mean_word_len_x100, keep, reasons) —
    the published C4 + Gopher document-level heuristics as pure column
    expressions (zero UDFs, map-side only):

    * C4: drop documents containing ``{`` (code), the phrase
      "lorem ipsum", or "enable javascript" boilerplate; require at
      least 3 terminal-punctuation marks;
    * Gopher: word count in [20, 100000]; mean word length in [3, 10].

    ``mean_word_len_x100`` is the floor-scaled integer (total
    non-space chars * 100 // words) — the partition-independent form
    every cross-engine mean in this repo uses."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(words))
    n_sent = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[.!?]", "")
    )
    n_chars = F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
    mwl100 = F.when(n_words > 0, (n_chars * 100).cast("bigint") / n_words)
    mwl100 = F.floor(mwl100).cast("bigint")
    lower = F.lower(F.col(text_col))
    reasons = F.array_compact(
        F.array(
            F.when(F.col(text_col).contains("{"), F.lit("curly_brace")),
            F.when(lower.contains("lorem ipsum"), F.lit("lorem_ipsum")),
            F.when(lower.contains("enable javascript"), F.lit("javascript")),
            F.when(n_sent < 3, F.lit("too_few_sentences")),
            F.when(n_words < 20, F.lit("too_short")),
            F.when(n_words > 100_000, F.lit("too_long")),
            F.when(mwl100 < 300, F.lit("short_words")),
            F.when(mwl100 > 1000, F.lit("long_words")),
        )
    )
    return docs.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        mwl100.alias("mean_word_len_x100"),
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(reasons, ",").alias("reasons"),
    )
