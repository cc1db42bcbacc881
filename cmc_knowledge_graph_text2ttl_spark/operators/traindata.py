"""Training-sample construction operators: sliding-window chunking,
deterministic corpus splits, hash sampling, corpus vocabulary.

These are the steps between a filtered corpus and a training run: cut
documents into model-window-sized pieces, assign stable train/val/test
splits, draw reproducible subsamples, and build the token/vocabulary
statistics tokenizer training needs. No reference counterpart (the
reference stops at TTL emission); the scale contract is the same as the
rest of the engine: pure column expressions (whole-stage codegen, no
Python UDFs), map-side-combinable aggregations, and md5-derived hashing
so every result is bit-reproducible against the DuckDB oracle
(conv(substr(md5(x),1,8),16,10) == ('0x'||substr(md5(x),1,8))::BIGINT).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_int

__all__ = [
    "chunk_documents",
    "assign_split",
    "deterministic_sample",
    "corpus_vocabulary",
    "pack_chunks",
    "stratified_sample",
    "unigram_surprisal",
    "embed_documents",
    "bin_manifests",
    "perplexity_buckets",
    "mixture_sample",
]


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Cut each document into sliding word windows →
    (id, chunk_id, n_words, chunk_text).

    Chunk ``i`` covers words ``[i*stride, i*stride + window)``; the last
    chunk may be shorter, and a document with at most ``window`` words
    yields exactly one chunk. Chunk count is
    ``1 + max(0, n - window + stride - 1) div stride`` — integer
    arithmetic on both engines (float ceil() is not partition- or
    engine-stable). Empty documents yield no chunks.

    Scale shape: per-row explode only — no shuffle; the word array is
    built once per document and sliced per chunk, so a 100-TB corpus
    chunks embarrassingly parallel.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    t = F.trim(F.col(text_col))
    words = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    base = df.select(
        F.col(id_col).alias("id"), words.alias("_words"), F.size(words).alias("_n")
    )
    # `div` truncates toward zero; the CASE keeps the ceil-trick's
    # numerator strictly positive so truncation == ceiling
    max_i = F.expr(
        f"CASE WHEN _n <= {window} THEN 0 "
        f"ELSE (_n - {window} + {stride} - 1) div {stride} END"
    )
    chunks = base.select(
        "id",
        "_words",
        "_n",
        F.explode(
            F.when(F.col("_n") > 0, F.sequence(F.lit(0), max_i)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("chunk_id"),
    )
    piece = F.slice(F.col("_words"), F.col("chunk_id") * stride + 1, window)
    return chunks.select(
        "id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).cast("int").alias("n_words"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def assign_split(df: DataFrame, weights: Dict[str, int] | None = None) -> DataFrame:
    """Stable train/val/test assignment by ``doc_id`` → df + (bucket, split).

    ``weights`` maps split name → integer percent (must sum to 100);
    default 90/5/5. The bucket is the first 32 md5 bits of the id mod
    100, so membership is a pure function of the id: re-runs, engine
    changes, and corpus growth never reshuffle existing documents across
    splits (the property that keeps eval sets uncontaminated as the
    corpus is re-crawled). Split boundaries are cumulative-percent
    ranges in insertion order of ``weights``.
    """
    if weights is None:
        weights = {"train": 90, "val": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    bucket = (md5_int(F.col("doc_id").cast("string")) % 100).cast("int")
    expr = None
    lo = 0
    for name, pct in weights.items():
        cond = F.col("bucket") < F.lit(lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return df.withColumn("bucket", bucket).withColumn("split", expr)


def deterministic_sample(df: DataFrame, rate_bp: int) -> DataFrame:
    """Reproducible ``rate_bp``/10000 subsample (basis points, so 250 =
    2.5%). Keeps rows whose ``doc_id`` md5 bucket (mod 10000) falls
    below the rate — the same documents are kept on every engine and
    every run, unlike ``DataFrame.sample`` whose output depends on
    partitioning.
    """
    if not 0 <= rate_bp <= 10_000:
        raise ValueError("rate_bp must be in [0, 10000]")
    return df.where(md5_int(F.col("doc_id").cast("string")) % 10_000 < rate_bp)


def _exclusive_prefix_sum(
    df: DataFrame, order_cols: List[str], weight_col: str, n_parts: int
) -> DataFrame:
    """df + ``_prev`` = sum of ``weight_col`` over all rows strictly
    before this one in ``order_cols`` order — the distributed prefix
    sum (scan) primitive.

    A window with a global ORDER BY and no PARTITION BY would funnel
    the whole dataset through ONE task; instead: range-repartition on
    the order key (partition i holds keys below partition i+1), cumsum
    within each partition, then offset each partition by the totals of
    the partitions before it. The driver handles n_parts totals —
    bounded by the partition count, never by the data.

    The eager localCheckpoint pins ONE materialization of the range
    partitioning: RangePartitioner samples its boundaries per action,
    so without it the totals pass and the output pass could disagree on
    which partition a key landed in — offsets joined on _part would
    silently corrupt the scan. The prefix sum itself depends only on
    key order, so the OUTPUT is deterministic regardless of where the
    sampled boundaries fall.
    """
    parts = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("_part", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r._part: r.total
        for r in parts.groupBy("_part")
        .agg(F.sum(weight_col).cast("bigint").alias("total"))
        .collect()
    }
    offset = 0
    offsets = []
    for p in sorted(totals):
        offsets.append((p, offset))
        offset += totals[p]
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_part int, _offset bigint")
    )
    # explicit ROWS frame: the default RANGE frame includes ORDER-BY
    # peers, so duplicate order keys would each receive the full peer
    # sum and the exclusive prefix double-counts (order keys must still
    # be unique for a well-defined scan — pack_chunks' (id, chunk_id)
    # are by construction)
    w = (
        Window.partitionBy("_part")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parts.withColumn("_run", F.sum(weight_col).over(w).cast("bigint"))
        .join(off_df, "_part")
        .withColumn(
            "_prev", (F.col("_offset") + F.col("_run") - F.col(weight_col))
        )
        .drop("_part", "_run", "_offset")
    )


def pack_chunks(
    chunks: DataFrame,
    capacity: int,
    id_col: str = "id",
    n_parts: int = 32,
) -> DataFrame:
    """GPT-style sequence packing: concatenate chunks in (id, chunk_id)
    order and cut every ``capacity`` tokens (``n_words`` per chunk) →
    chunks + (bin_id, offset_in_bin).

    ``bin_id`` is the training sequence where the chunk STARTS
    (prefix_sum div capacity) and ``offset_in_bin`` its position there
    (prefix_sum mod capacity); a chunk may spill into the next bin, as
    in token-stream packing. Built on the distributed prefix-sum above,
    so packing a 100-TB chunk stream never serializes through one task;
    the result is a pure function of the (id, chunk_id) order.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    out = _exclusive_prefix_sum(chunks, [id_col, "chunk_id"], "n_words", n_parts)
    return out.select(
        *chunks.columns,
        F.expr(f"_prev div {capacity}").cast("bigint").alias("bin_id"),
        (F.col("_prev") % capacity).cast("int").alias("offset_in_bin"),
    )


def bin_manifests(packed: DataFrame, capacity: int) -> DataFrame:
    """Packed chunks → one manifest row per training sequence:
    (bin_id, n_chunks, n_tokens, spans) where ``spans`` is the ordered
    array of "id:chunk_id@offset" strings a loader needs to assemble
    the bin (chunks that START in it; a chunk may spill into bin_id+1,
    per token-stream packing).

    One aggregation keyed on bin_id; the array is bounded by
    capacity (at most ``capacity`` chunks start in one bin), so the
    buffer is bounded by construction — no salting needed.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    span = F.concat_ws(
        "@",
        F.concat_ws(":", F.col("id").cast("string"),
                    F.col("chunk_id").cast("string")),
        F.col("offset_in_bin").cast("string"),
    )
    return (
        packed.select("bin_id", F.col("n_words"), span.alias("span"),
                      "offset_in_bin")
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct("offset_in_bin", "span"))
            ).alias("_s"),
        )
        .select(
            "bin_id", "n_chunks", "n_tokens",
            F.transform(F.col("_s"), lambda s: s["span"]).alias("spans"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    k: int,
) -> DataFrame:
    """Deterministic per-stratum sample: the ``k`` rows of each stratum
    with the smallest ``doc_id`` md5 hash (id tie-break) — balanced
    sampling by language/domain/source without a random seed, stable
    across engines, runs, and partitionings.

    One shuffle (the window partition by stratum); the per-stratum sort
    is bounded by stratum size. For heavily skewed strata sizes the
    md5 order means early rows are a uniform draw, so the cap is an
    unbiased subsample, not a prefix of crawl order.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(strata_col).orderBy(
        md5_int(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def unigram_surprisal(
    df: DataFrame,
    scale: int = 1_000_000,
    broadcast_vocab: bool = False,
) -> DataFrame:
    """Unigram-LM surprisal score per (doc_id, text) document → (id,
    n_tokens, surprisal_scaled): the mean scaled surprisal of the
    document's tokens under the corpus's own unigram distribution. Documents full
    of corpus-rare tokens (gibberish, boilerplate hashes, wrong-language
    fragments) score high — the classic cheap perplexity proxy for
    quality filtering, without a trained LM.

    All-integer arithmetic so the score is bit-identical on every
    engine: token surprisal ≈ (T * scale) div tf (a monotone transform
    of 1/p, standing in for -log p whose libm rounding differs between
    JVM and C), document score = floor(sum(tf_doc * surprisal) /
    n_tokens). No floats anywhere.

    Integer-range contract: ``T * scale`` must stay below 2^63 — a
    runtime assertion fails loudly (instead of int64 silently wrapping
    under non-ANSI Spark) when the corpus outgrows the scale; at the
    default 1e6 that ceiling is ~9.2e12 tokens, so corpora beyond
    ~10 TB of text should pass a smaller ``scale``. The per-document
    sum is similarly bounded by ``doc_tokens * T * scale``.

    Shape: one explode + per-(doc, token) count (map-side combinable,
    the shuffle carries per-document vocabularies), a corpus-level token
    dimension joined back on token (pass broadcast_vocab=True when the
    vocabulary fits in memory; at web scale leave it to a shuffle join —
    AQE will still broadcast a small build side), and a final per-doc
    rollup that reuses the doc-keyed clustering.
    """
    words = F.split(F.trim(F.col("text")), r"\s+")
    per_doc = (
        df.where(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id").alias("id"), F.explode(words).alias("token"))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_doc"))
    )
    vocab = per_doc.groupBy("token").agg(
        F.sum("tf_doc").cast("bigint").alias("tf")
    )
    total = vocab.agg(F.sum("tf").cast("bigint").alias("t"))
    max_t = (2**63 - 1) // scale
    dim = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.when(
            F.col("t") <= max_t, F.expr(f"(t * {scale}) div tf")
        ).otherwise(
            F.assert_true(
                F.col("t") <= max_t,
                F.lit(
                    "unigram_surprisal: corpus token count * scale exceeds "
                    "int64 — pass a smaller scale"
                ),
            ).cast("bigint")
        ).alias("surprisal"),
    )
    if broadcast_vocab:
        dim = F.broadcast(dim)
    return (
        per_doc.join(dim, "token")
        .groupBy("id")
        .agg(
            F.sum("tf_doc").cast("bigint").alias("n_tokens"),
            F.expr("sum(tf_doc * surprisal) div sum(tf_doc)")
            .cast("bigint")
            .alias("surprisal_scaled"),
        )
    )


def embed_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Feature-hashing document embeddings → (id, embedding
    array<bigint>): the hashing trick (Weinberger et al. 2009) — token
    ``t`` adds ``±tf`` to bucket ``md5(t) mod dim``, the sign drawn
    from an independent md5 slice so collisions cancel in expectation.

    Produces the embedding column the similarity/near-dup operators
    consume (cast to float and L2-normalize downstream — normalization
    is a float op and deliberately NOT baked in here, keeping this
    stage all-integer and bit-reproducible across engines).

    Scale shape: explode → per-(doc, bucket) sum (map-side combinable,
    at most ``dim`` rows per document after the combine) → one
    map_from_entries per document densified against a static index
    sequence. No UDFs, no driver state.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    tok = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("id"), F.explode(words).alias("token"))
    )
    bucket = (md5_int(F.col("token")) % dim).cast("int")
    sign = F.when(
        md5_int(F.concat(F.lit("s"), F.col("token"))) % 2 == 0, 1
    ).otherwise(-1)
    sparse = (
        tok.withColumn("bucket", bucket)
        .withColumn("sign", sign)
        .groupBy("id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("val"))
    )
    dense = sparse.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "val"))
        ).alias("_m")
    )
    idxs = F.sequence(F.lit(0), F.lit(dim - 1))
    return dense.select(
        "id",
        F.transform(
            idxs, lambda j: F.coalesce(F.col("_m")[j], F.lit(0).cast("bigint"))
        ).alias("embedding"),
    )


def corpus_vocabulary(df: DataFrame, top_k: int = 1000) -> DataFrame:
    """Vocabulary of (doc_id, text) rows → (token, doc_freq, term_freq),
    the ``top_k`` tokens by term frequency (ties broken by token, so the
    cut is deterministic).

    Two-level aggregation: per-(doc, token) counts first, then the
    global rollup — both map-side combinable, and the shuffle carries
    per-document vocabularies (bounded by document length), never raw
    token streams. The final top-k compiles to TakeOrderedAndProject,
    not a global sort.
    """
    words = F.split(F.trim(F.col("text")), r"\s+")
    per_doc = (
        df.where(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id").alias("id"), F.explode(words).alias("token"))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
            F.sum("n").cast("bigint").alias("term_freq"),
        )
        .orderBy(F.col("term_freq").desc(), F.col("token").asc())
        .limit(top_k)
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int,
    sub_buckets: Optional[int] = 256,
) -> DataFrame:
    """(shard, n_docs, total_chars, id_digest) of (doc_id, text) rows —
    the publish step of a curation pipeline: deterministic md5 shard
    routing (the repo's hashing rule, NOT rangepartitioning — range
    boundaries are sampled and would differ run to run) plus a per-shard
    integrity manifest a downstream trainer can verify against.

    ``id_digest`` (default): a TWO-LEVEL digest — ids hash into
    ``sub_buckets`` sub-buckets per shard (independent md5 slice),
    each sub-bucket digests its comma-joined ASCENDING ids, and the
    shard digest is md5 over the sub-digests in sub-bucket order. No
    reducer ever materializes a full shard id list: level-1 buffers
    are ~shard/sub_buckets ids, level 2 holds at most ``sub_buckets``
    32-char digests. Still fully deterministic (hash routing + fixed
    orders), partition-independent and cross-engine reproducible.

    ``sub_buckets=None`` keeps the legacy FLAT digest (md5 over the
    whole shard's sorted id list) — fine for small shards, but at web
    scale one reducer then buffers billions of ids; size n_shards
    accordingly if you opt into it. Two shuffles total (or one when
    flat)."""
    assigned = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.length(F.col("text")).cast("bigint").alias("n_chars"),
    ).withColumn(
        "shard", (md5_int(F.col("id")) % n_shards).cast("int")
    )
    if sub_buckets is None:
        return (
            assigned.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.md5(
                    F.array_join(F.array_sort(F.collect_list("id")), ",")
                ).alias("id_digest"),
            )
        )
    if sub_buckets < 1:
        raise ValueError("sub_buckets must be >= 1 (or None for flat)")
    sub = (
        md5_int(F.concat(F.lit("sub"), F.col("id"))) % sub_buckets
    ).cast("int")
    level1 = (
        assigned.withColumn("sub", sub)
        .groupBy("shard", "sub")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(
                F.array_join(F.array_sort(F.collect_list("id")), ",")
            ).alias("sub_digest"),
        )
    )
    return (
        level1.groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_chars").alias("total_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("sub", "sub_digest"))
                        ),
                        lambda s: s["sub_digest"],
                    ),
                    ",",
                )
            ).alias("id_digest"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    scale: int = 1_000_000,
    n_buckets: int = 3,
) -> DataFrame:
    """(id, lang, n_tokens, surprisal_scaled, bucket, label) — CCNet-style
    perplexity bucketing (Wenzek et al. 2020) of (doc_id, text, lang)
    rows: per language, documents are
    split into ``n_buckets`` equal-mass buckets of their LM-quality proxy
    score, labeled head / middle / tail for the default 3 (CCNet trains on
    head+middle and drops the tail). The score is :func:`unigram_surprisal`
    — all-integer, so the bucket boundaries are bit-identical on every
    engine.

    Buckets are assigned by VALUE, not by row: a document's bucket is
    ``1 + (docs-strictly-below * n_buckets) div lang_total``, so every
    document with the same (lang, score) lands in the same bucket and the
    result is partition-independent (an ntile() would split value ties by
    an arbitrary row order and need a per-language global sort).

    Scale shape: the ranking window runs over the per-(lang, score)
    HISTOGRAM — bounded by distinct score values, orders of magnitude
    smaller than the corpus — never over the documents, so there is no
    one-reducer-per-language funnel; documents get their bucket back via
    a hash join on (lang, score). CCNet itself buckets per language with
    a sampled CDF; the histogram here is exact and still bounded.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    scored = unigram_surprisal(df, scale).join(
        df.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    hist = scored.groupBy("lang", "surprisal_scaled").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_val")
    )
    w_below = (
        Window.partitionBy("lang")
        .orderBy("surprisal_scaled")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("lang")
    cuts = hist.select(
        "lang",
        "surprisal_scaled",
        F.coalesce(F.sum("n_val").over(w_below), F.lit(0))
        .cast("bigint")
        .alias("n_below"),
        F.sum("n_val").over(w_all).cast("bigint").alias("n_lang"),
    ).select(
        "lang",
        "surprisal_scaled",
        (F.lit(1) + F.expr(f"(n_below * {n_buckets}) div n_lang"))
        .cast("int")
        .alias("bucket"),
    )
    label = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        if n_buckets == 3
        else F.concat(F.lit("q"), F.col("bucket").cast("string"))
    )
    return scored.join(cuts, ["lang", "surprisal_scaled"]).select(
        "id",
        "lang",
        "n_tokens",
        "surprisal_scaled",
        "bucket",
        label.alias("label"),
    )


def mixture_sample(
    df: DataFrame,
    weights: Dict[str, int],
    total_budget: int,
    n_coarse: int = 256,
) -> DataFrame:
    """(id, domain, n_tok) — token-budget mixture sampling of (doc_id,
    text, source) rows, domain = ``source`` (the static data-mixing step
    of Pile/DoReMi-style training corpora): each domain
    receives ``budget_d = total_budget * w_d div sum(w)`` tokens (integer
    weights, so the split is exact and engine-portable) and is filled by
    documents in md5(id) order — a deterministic shuffle — keeping every
    document whose EXCLUSIVE token prefix within its domain is still below
    the budget (the document that crosses the budget line is included, so
    each domain slightly overshoots rather than undershoots). Domains
    absent from ``weights`` are dropped.

    Scale shape — two-level selection, no per-domain global window over
    the documents: md5 space is cut into ``n_coarse`` ordered ranges,
    a per-(domain, range) token-sum table (bounded by
    ``|domains| * n_coarse``) is prefix-summed with a window over THAT
    table, and each range is classified kept-whole / dropped-whole /
    boundary. Only the single boundary range per domain pays a fine
    document-level window (~corpus/n_coarse rows); everything else is a
    map-side filter against the broadcast range table. The md5 order
    within a range extends the range order, so the two-level result is
    identical to the naive one-window plan the DuckDB oracle runs.
    """
    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    if n_coarse < 1:
        raise ValueError("n_coarse must be >= 1")
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of ints >= 0")
    denom = sum(weights.values())
    if denom <= 0:
        raise ValueError("weights must sum to > 0")
    spark = df.sparkSession
    budgets = F.broadcast(
        spark.createDataFrame(
            [(d, total_budget * w // denom) for d, w in sorted(weights.items())],
            "domain string, budget bigint",
        )
    )
    # md5_int is 32 bits; ranges are equal h-slices so range order == h order
    width = max(1, (2**32 + n_coarse - 1) // n_coarse)
    n_tok = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("domain"),
        n_tok.cast("bigint").alias("n_tok"),
        md5_int(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("rng", F.expr(f"h div {width}").cast("int"))
    toks = toks.join(budgets, "domain").persist()
    coarse = toks.groupBy("domain", "rng", "budget").agg(
        F.sum("n_tok").cast("bigint").alias("rng_tok")
    )
    w_prev = (
        Window.partitionBy("domain")
        .orderBy("rng")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    classified = coarse.select(
        "domain",
        "rng",
        F.coalesce(F.sum("rng_tok").over(w_prev), F.lit(0))
        .cast("bigint")
        .alias("prev_tok"),
        "rng_tok",
        "budget",
    ).select(
        "domain",
        "rng",
        "prev_tok",
        F.when(F.col("prev_tok") + F.col("rng_tok") < F.col("budget"), "keep")
        .when(F.col("prev_tok") >= F.col("budget"), "drop")
        .otherwise("boundary")
        .alias("cls"),
    )
    marked = toks.join(
        F.broadcast(classified.filter(F.col("cls") != "drop")),
        ["domain", "rng"],
    )
    kept_whole = marked.filter(F.col("cls") == "keep").select(
        "id", "domain", "n_tok"
    )
    w_fine = (
        Window.partitionBy("domain", "rng")
        .orderBy("h", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept_boundary = (
        marked.filter(F.col("cls") == "boundary")
        .withColumn(
            "prefix",
            F.col("prev_tok")
            + F.coalesce(F.sum("n_tok").over(w_fine), F.lit(0)),
        )
        .filter(F.col("prefix") < F.col("budget"))
        .select("id", "domain", "n_tok")
    )
    return kept_whole.unionByName(kept_boundary)
