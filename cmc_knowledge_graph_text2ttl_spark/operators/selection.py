"""Data-selection operators: weak-label quality classifier and
DSIR-style importance resampling.

Beyond-reference training-data ops (the reference pipeline has none of
this surface): the two standard recipes for choosing WHICH slice of a
web crawl to train on —

1. a cheap linear quality classifier distilled from weak labels
   (the GPT-3 / CCNet recipe: label a seed set, learn per-token
   weights, score everything); here the classifier is a binarized
   Naive-Bayes-style per-token positive-class rate, which is exactly
   the closed-form optimum for the "probability this doc is positive"
   bag-of-words model — no gradient steps, one aggregation;
2. DSIR (Xie et al. 2023, "Data Selection for Language Models via
   Importance Resampling"): hash n-grams into a small bucket space,
   estimate target-vs-raw bucket distributions, score every raw doc by
   its likelihood ratio, keep the top slice.

Both are all-integer so Spark and the DuckDB oracle agree bit-exactly:

- the NB weight is the Laplace rate ``((pos + 1) * SCALE) div
  (pos + neg + 2)`` — a probability scaled to an integer, no log;
- the DSIR per-bucket ratio is ``((tgt_b + 1) * (R + B) * SCALE) div
  ((raw_b + 1) * (T + B))`` — the add-one-smoothed ``p_tgt / p_raw``
  as one rational with a single floor; the per-doc score is the
  tf-weighted floor-mean of bucket ratios (an arithmetic-mean proxy
  for the geometric mean the log-sum would give — monotone enough for
  top-slice selection and reproducible everywhere, documented
  deviation from the paper's log-space sum);
- document scores are ``sum(tf * w) div sum(tf)`` — the repo's
  standard partition-independent integer mean.

Scale shape: training is two aggregations over an exploded distinct
(doc, token) stream (map-side combinable); scoring joins the weight
dimension back on token — pass ``broadcast_weights=True`` when the
vocabulary/bucket table fits in executor memory (buckets always do:
``n_buckets`` rows). Selection is a TakeOrderedAndProject, never a
global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import md5_int

# Integer scale of classifier weights, scores and DSIR ratios.
SCALE = 1_000_000


def _tokens(df: DataFrame) -> DataFrame:
    words = F.split(F.trim(F.col("text")), r"\s+")
    return df.where(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id").alias("id"), F.explode(words).alias("token")
    )


def token_label_weights(df: DataFrame, label_col: str) -> DataFrame:
    """Train the weak-label classifier on (doc_id, text, ``label_col``)
    rows → (token, df_pos, df_neg, weight).

    ``label_col`` is 0/1 (weak labels: a heuristic, a seed list, an
    upstream filter verdict). Counts are DOCUMENT frequencies
    (binarized NB — a token counts once per doc no matter how often it
    repeats, so spam keyword-stuffing cannot inflate its own weight).
    ``weight = ((df_pos + 1) * SCALE) div (df_pos + df_neg + 2)`` — the
    Laplace-smoothed P(positive | token present), scaled to an integer.
    """
    words = F.split(F.trim(F.col("text")), r"\s+")
    per_doc = (
        df.where(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.col("doc_id").alias("id"),
            F.col(label_col).cast("bigint").alias("label"),
            F.explode(words).alias("token"),
        )
        .groupBy("id", "token")
        .agg(F.max("label").alias("label"))
    )
    return per_doc.groupBy("token").agg(
        F.sum("label").cast("bigint").alias("df_pos"),
        F.sum(F.lit(1) - F.col("label")).cast("bigint").alias("df_neg"),
    ).select(
        "token",
        "df_pos",
        "df_neg",
        F.expr(f"((df_pos + 1) * {SCALE}) div (df_pos + df_neg + 2)")
        .cast("bigint")
        .alias("weight"),
    )


def classifier_scores(
    df: DataFrame,
    weights: DataFrame,
    broadcast_weights: bool = False,
) -> DataFrame:
    """Score every (doc_id, text) document → (id, n_tokens, n_matched,
    score).

    ``score`` is the floor-mean of token weights over DISTINCT tokens
    (binarized, matching training); tokens absent from the weight table
    take the uninformative prior ``SCALE div 2``. ``n_tokens`` counts
    distinct tokens, ``n_matched`` those found in the table.
    """
    dim = weights.select("token", "weight")
    if broadcast_weights:
        dim = F.broadcast(dim)
    per_doc = _tokens(df).distinct()
    return (
        per_doc.join(dim, "token", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count("weight").cast("bigint").alias("n_matched"),
            F.expr(f"sum(coalesce(weight, {SCALE} div 2)) div count(1)")
            .cast("bigint")
            .alias("score"),
        )
    )


def hashed_ngram_counts(df: DataFrame, n_buckets: int = 1024, bigrams: bool = True) -> DataFrame:
    """Per-(doc, bucket) hashed n-gram counts of (doc_id, text) rows →
    (id, bucket, tf).

    Word unigrams (and bigrams when ``bigrams``) hash into
    ``md5(gram) mod n_buckets`` — the repo's cross-engine md5 slice.
    Bigrams are built column-side (``transform`` over an index
    sequence), never via a positional self-join.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    words = F.split(F.trim(F.col("text")), r"\s+")
    base = df.where(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id").alias("id"), words.alias("toks")
    )
    grams = F.col("toks")
    if bigrams:
        # Spark's sequence(0, -1) counts DOWN (cf. dedup._positions), so
        # the one-token doc needs an explicit empty branch.
        bi = F.expr(
            "CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i + 1])) "
            "ELSE array() END"
        )
        grams = F.concat(F.col("toks"), bi)
    return (
        base.select("id", F.explode(grams).alias("gram"))
        .select("id", (md5_int(F.col("gram")) % n_buckets).cast("bigint").alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance scores for every raw doc → (id, n_grams,
    importance), over (doc_id, text) rows with unigram and bigram
    buckets: the tf-weighted floor-mean of per-bucket smoothed
    ``p_target / p_raw`` ratios (each ``((tgt_b+1)(R+B) SCALE) div
    ((raw_b+1)(T+B))``). ``importance`` > ``SCALE`` means "looks more
    like the target than the raw average".

    Integer-range contract: ``(tgt_b + 1) * (R + B) * SCALE`` must stay
    below 2^63, which bounds ``tgt_b * raw_total`` at
    ~9.2e12·n_buckets; web-scale corpora should pass more buckets (the
    assertion inside the ratio expression fails loudly rather than
    wrapping).
    """
    # persist: raw_tf feeds both the bucket totals and the final scoring
    # join — without it the raw corpus is tokenized and hashed twice
    # (the dominant cost; ≤ n_buckets rows per doc after the combine).
    raw_tf = hashed_ngram_counts(raw, n_buckets).persist()
    tgt_tf = hashed_ngram_counts(target, n_buckets)
    raw_b = raw_tf.groupBy("bucket").agg(
        F.sum("tf").cast("bigint").alias("raw_b")
    )
    tgt_b = tgt_tf.groupBy("bucket").agg(
        F.sum("tf").cast("bigint").alias("tgt_b")
    )
    totals = (
        raw_b.agg(F.sum("raw_b").cast("bigint").alias("r"))
        .crossJoin(tgt_b.agg(F.sum("tgt_b").cast("bigint").alias("t")))
    )
    dim = (
        raw_b.join(tgt_b, "bucket", "outer")
        .select(
            "bucket",
            F.coalesce("raw_b", F.lit(0)).cast("bigint").alias("raw_b"),
            F.coalesce("tgt_b", F.lit(0)).cast("bigint").alias("tgt_b"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.when(
                F.expr(f"(tgt_b + 1) * (r + {n_buckets}) <= {2**63 - 1} div {SCALE}"),
                F.expr(
                    f"((tgt_b + 1) * (r + {n_buckets}) * {SCALE}) div "
                    f"((raw_b + 1) * (t + {n_buckets}))"
                ),
            ).otherwise(
                F.assert_true(
                    F.expr(
                        f"(tgt_b + 1) * (r + {n_buckets}) <= {2**63 - 1} div {SCALE}"
                    ),
                    F.lit(
                        "dsir_importance: bucket count * corpus total * "
                        "scale exceeds int64 — pass more buckets"
                    ),
                ).cast("bigint")
            ).alias("ratio"),
        )
    )
    return (
        raw_tf.join(F.broadcast(dim), "bucket")
        .groupBy("id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_grams"),
            F.expr("sum(tf * ratio) div sum(tf)")
            .cast("bigint")
            .alias("importance"),
        )
    )


def dsir_select(
    importance: DataFrame,
    m: int,
) -> DataFrame:
    """Deterministic top-m selection from :func:`dsir_importance` output
    → same columns, the m highest-importance docs (ties by ascending
    id). The paper resamples with Gumbel noise; a deterministic top
    slice is the reproducible-pipeline equivalent (documented
    deviation) and is a TakeOrderedAndProject, not a global sort."""
    if m < 1:
        raise ValueError("dsir_select: m must be >= 1")
    return importance.orderBy(
        F.col("importance").desc(), F.col("id").asc()
    ).limit(m)
