"""Corpus retrieval: integer-scaled BM25 top-k over the document table.

Beyond-reference training-data operator (the reference pipeline has no
search surface): ranked keyword retrieval is the workhorse for corpus
auditing ("show me the docs this filter would keep"), decontamination
triage, and seed selection for targeted crawls.

All-integer BM25 so Spark and the DuckDB oracle agree bit-exactly:

- the Robertson idf ``ln((N - df + 0.5) / (df + 0.5))`` is replaced by
  the *rational* proxy ``((2(N - df) + 1) * IDF_SCALE) div (2 df + 1)``
  — the same odds ratio without the log, a monotone transform of it for
  fixed N, so the induced ranking per term is identical and no libm
  rounding can diverge between JVM and C;
- the tf saturation component ``tf (k1+1) / (tf + k1 (1 - b + b dl /
  avgdl))`` is evaluated with k1/b as the integer ratios ``K1_X10 / 10``
  and ``B_X100 / 100`` and ``dl / avgdl`` as ``(dl * N * 100) div T``;
  every division is an explicit int64 floor-div performed at the same
  point in both engines (floor placement matters: ``a div b * c`` and
  ``a * c div b`` differ — the oracle mirrors this expression shape
  token for token).

Integer-range contract (same discipline as traindata.unigram_surprisal):
``dl * N * 100`` must stay below 2^63 — at 10^12 documents that bounds
single-document length at ~9×10^4 tokens; longer docs at that corpus
size need the chunked path upstream. A runtime assertion fails loudly
instead of letting non-ANSI Spark wrap silently.

Scale shape: one pass computes per-doc length (``size(split(...))`` —
no explode), a second explode pass keeps ONLY the query terms (the
filter sits directly on the exploded token, before any shuffle, so the
groupBy carries |query| rows per doc at most), corpus stats (N, T) and
per-term doc frequencies are tiny aggregates broadcast back, and the
top-k is a TakeOrderedAndProject — no global sort materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_MAX_I64 = 2**63 - 1

# BM25 constants shared by the Spark plan and its DuckDB mirror: k1 = 1.2,
# b = 0.75, and the integer scales of the idf and tf components.
K1_X10 = 12
B_X100 = 75
IDF_SCALE = 1000
TF_SCALE = 10000


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-k (doc_id, text) documents for a bag-of-terms query under
    integer BM25.

    Returns (id, n_matched, score) — ``score`` is scaled by
    ``IDF_SCALE * TF_SCALE``; ``n_matched`` counts distinct query terms
    present. Ties broken by ascending id (deterministic cut).
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    if k < 1:
        raise ValueError("bm25_topk: k must be >= 1")
    terms = sorted(set(query_terms))

    words = F.split(F.trim(F.col("text")), r"\s+")
    docs = df.where(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id").alias("id"), words.alias("toks")
    )
    # persist: lengths feeds the corpus stats aggregate AND the scoring
    # join — without it the corpus is scanned and tokenized a second
    # (and third) time just to recompute per-doc lengths. Two int64
    # columns per doc, far smaller than the text it replaces.
    lengths = docs.select(
        "id", F.size("toks").cast("bigint").alias("dl")
    ).persist()
    stats = lengths.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("t"),
    )

    # explode → keep query terms only: the shuffle after this carries at
    # most |terms| rows per document, not the document's vocabulary.
    # persist: both the doc-frequency aggregate and the scoring join
    # consume this — without it the corpus is scanned and exploded twice
    # (the dominant cost at scale; same rationale as the minhash shingle
    # persist in dedup.py). The persisted set is tiny: ≤ |terms| rows
    # per matching document.
    per_doc = (
        docs.select("id", F.explode("toks").alias("token"))
        .where(F.col("token").isin(terms))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .persist()
    )
    dfreq = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_t")
    )

    # Robertson-odds rational idf (see module docstring).
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "token",
        F.expr(
            f"((2 * (n - df_t) + 1) * {IDF_SCALE}) div (2 * df_t + 1)"
        ).cast("bigint").alias("idf"),
    )

    guard = F.expr(f"dl * n * 100 <= {_MAX_I64}")
    scored = (
        per_doc.join(lengths, "id")
        .crossJoin(F.broadcast(stats))
        # dl/avgdl scaled by 100, then the 1-b+b·reldl length norm
        # (also scaled by 100); floor placement mirrored in the oracle.
        # The overflow assertion lives INSIDE the value expression so
        # Catalyst cannot prune it away as an unused column.
        .withColumn(
            "reldl",
            F.when(guard, F.expr("(dl * n * 100) div t")).otherwise(
                F.assert_true(
                    guard,
                    F.lit(
                        "bm25_topk: dl * N * 100 exceeds int64 — chunk "
                        "oversized documents upstream or rescale"
                    ),
                ).cast("bigint")
            ),
        )
        .withColumn(
            "lnorm",
            F.expr(f"(100 - {B_X100}) + ({B_X100} * reldl) div 100"),
        )
        .withColumn(
            "tfcomp",
            F.expr(
                f"(tf * (10 + {K1_X10}) * 100 * {TF_SCALE}) div "
                f"(1000 * tf + {K1_X10} * lnorm)"
            ),
        )
        .join(F.broadcast(idf), "token")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.sum(F.expr("idf * tfcomp")).cast("bigint").alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)


def bm25_oracle_sql(query_terms: list[str], k: int = 20) -> str:
    """DuckDB mirror of :func:`bm25_topk` over the ``documents`` view —
    expression shapes (floor-div placement) match the Spark plan token
    for token so the scores are bit-identical."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return rf"""
WITH docs AS (
  SELECT doc_id AS id,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), lengths AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS dl FROM docs
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t
  FROM lengths
), per_doc AS (
  SELECT id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT id, unnest(toks) AS token FROM docs)
  WHERE token IN ({in_list})
  GROUP BY id, token
), dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df_t FROM per_doc GROUP BY token
), idf AS (
  SELECT token,
         CAST(((2 * (n - df_t) + 1) * {IDF_SCALE}) // (2 * df_t + 1)
              AS BIGINT) AS idf
  FROM dfreq, stats
), scored AS (
  SELECT p.id,
         CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(i.idf * (
           (p.tf * (10 + {K1_X10}) * 100 * {TF_SCALE}) //
           (1000 * p.tf + {K1_X10} *
             ((100 - {B_X100}) +
              ({B_X100} * ((l.dl * s.n * 100) // s.t)) // 100))
         )) AS BIGINT) AS score
  FROM per_doc p
  JOIN lengths l USING (id), stats s
  JOIN idf i ON i.token = p.token
  GROUP BY p.id
)
SELECT id, n_matched, score FROM scored
ORDER BY score DESC, id ASC LIMIT {k}
"""
