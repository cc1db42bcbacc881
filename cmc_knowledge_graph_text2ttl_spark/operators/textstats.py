"""Text-analysis operators: language id, quality scoring, token counts,
document fingerprints.

All pure column expressions (whole-stage codegen; no UDFs) so the same
logic is expressible 1:1 in the DuckDB oracle SQL. These run on the
extracted-text table (or any (id, text) table) and are the building
blocks of a training-data filter pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_int

# Tiny per-language stopword marker sets (heuristic n-gram/stopword
# language id — the classic fasttext-free fallback). CJK is detected by
# character class instead of stopwords.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "los", "las", "una", "es", "que"],
}

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "with", "as", "on", "at", "by",
]

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols
# (a practical proxy for subword token counting without a tokenizer dep).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _count_matches(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_ws_tokens, n_bpe_tokens)."""
    t = F.col(text_col)
    ws_tokens = F.when(F.length(F.trim(t)) == 0, 0).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.length(t).alias("n_chars"),
        ws_tokens.cast("bigint").alias("n_ws_tokens"),
        _count_matches(t, BPE_TOKEN_RE).cast("bigint").alias("n_bpe_tokens"),
    )


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality features + a composite score in [0,1].

    Features follow the usual web-corpus filters: document length, mean
    word length, stopword ratio, punctuation/symbol ratio, digit ratio,
    uppercase ratio. The score is a transparent linear combination —
    callers threshold it (e.g. keep score >= 0.5).
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.when(F.length(F.trim(t)) == 0, 0).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    ).cast("double")
    stop_pattern = r"(?i)\b(" + "|".join(EN_STOPWORDS) + r")\b"
    n_stop = _count_matches(t, stop_pattern).cast("double")
    n_punct = _count_matches(t, r"[^\w\s]").cast("double")
    n_digit = _count_matches(t, r"[0-9]").cast("double")
    n_upper = _count_matches(t, r"[A-Z]").cast("double")
    safe = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))
    stop_ratio = safe(n_stop, words)
    punct_ratio = safe(n_punct, n_chars.cast("double"))
    digit_ratio = safe(n_digit, n_chars.cast("double"))
    upper_ratio = safe(n_upper, n_chars.cast("double"))
    mean_word_len = safe(n_chars.cast("double"), words)
    len_score = F.least(n_chars.cast("double") / F.lit(500.0), F.lit(1.0))
    score = (
        F.lit(0.3) * len_score
        + F.lit(0.3) * F.least(stop_ratio * 3, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0)))
        + F.lit(0.2) * (F.lit(1.0) - F.least(digit_ratio * 4, F.lit(1.0)))
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.cast("bigint").alias("n_chars"),
        words.cast("bigint").alias("n_words"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, lang_pred, lang_hits_*) — stopword-marker language guess.

    Scores = count of language-marker word hits; argmax with a fixed
    en > de > fr tie order (deterministic). 'und' (unknown) when no
    marker hits at all.
    """
    t = F.col(text_col)
    hits = {}
    for lang, markers in LANG_MARKERS.items():
        pat = r"(?i)\b(" + "|".join(markers) + r")\b"
        hits[lang] = _count_matches(t, pat).cast("bigint")
    hits["zh"] = _count_matches(t, r"[一-鿿]").cast("bigint")
    order = ["zh", "en", "de", "fr", "es"]  # fixed tie order → deterministic
    pred = F.lit("und")
    for lang in reversed(order):
        later = order[order.index(lang) + 1 :]
        cond = hits[lang] > 0
        for other in later:
            cond = cond & (hits[lang] >= hits[other])
        pred = F.when(cond, lang).otherwise(pred)
    return df.select(
        F.col(id_col).alias("id"),
        *[hits[lang].alias(f"hits_{lang}") for lang in order],
        pred.alias("lang_pred"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/FineWeb-style repetition signals per document.

    (id, n_words, n_distinct_words, dup_word_frac, top_word_frac,
    top_bigram_frac, repetitive) — the classic pretraining filters for
    boilerplate-ish repeated content.

    Scale shape: explode + two-level aggregation. The (id, token) partial
    counts are map-side combinable, so the shuffle carries one row per
    (doc, DISTINCT token) — per-doc vocabulary, much smaller than the
    token stream. (An all-in-array higher-order-function variant would
    avoid the shuffle but is quadratic per document — wrong trade at
    100 TB where documents can be 10^5 words.) Docs with zero word
    tokens produce no output row.
    """
    t = F.col(text_col)
    words = F.filter(F.split(F.lower(t), r"\W+"), lambda x: x != "")
    base = df.select(F.col(id_col).alias("id"), words.alias("ws"))
    uni = base.select("id", F.explode("ws").alias("w"))
    uc = uni.groupBy("id", "w").agg(F.count(F.lit(1)).alias("c"))
    u = uc.groupBy("id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("top_word_count"),
    )
    bigrams = F.when(
        F.size("ws") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 1),
            lambda i: F.concat(
                F.element_at(F.col("ws"), i),
                F.lit(" "),
                F.element_at(F.col("ws"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bc = (
        base.select("id", F.explode(bigrams).alias("b"))
        .groupBy("id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bb = bc.groupBy("id").agg(
        F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams")
    )
    # both sides are freshly aggregated on id → the join reuses the
    # exchange, no extra shuffle
    out = u.join(bb, "id", "left")
    nw = F.col("n_words").cast("double")
    dup = F.lit(1.0) - F.col("n_distinct_words").cast("double") / nw
    topw = F.col("top_word_count").cast("double") / nw
    topb = F.when(
        F.col("n_bigrams").isNotNull() & (F.col("n_bigrams") > 0),
        F.col("top_bigram_count").cast("double") / F.col("n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        "n_words",
        "n_distinct_words",
        dup.alias("dup_word_frac"),
        topw.alias("top_word_frac"),
        topb.alias("top_bigram_frac"),
        ((dup > 0.3) | (topb > 0.18)).alias("repetitive"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """(id, fingerprint) — winnowing-style document fingerprint of
    ``text``, keyed by ``doc_id``: the minimum md5-derived hash over
    character 8-gram shingles (one value per doc; equal fingerprints ⇒
    near-identical prefix content sets). Short docs (< 8 chars) hash the
    whole text."""
    t = F.col("text")
    pos = F.sequence(F.lit(1), F.greatest(F.length(t) - 8 + 1, F.lit(1)))
    shingle_hashes = F.transform(pos, lambda i: md5_int(t.substr(i, F.lit(8))))
    return df.select(
        F.col("doc_id").alias("id"),
        F.array_min(shingle_hashes).alias("fingerprint"),
    )


# Ranked merge table for the subword tokenizer below: common English
# bigram merges in priority order. Pairs are alphanumeric-only BY
# CONTRACT — the word-separator symbol '_' can then never participate
# in a merge, which is what confines merging to within words.
DEFAULT_BPE_MERGES = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("an", "d"), ("o", "n"), ("r", "e"), ("e", "n"), ("a", "t"),
    ("o", "u"), ("e", "s"), ("o", "r"), ("s", "t"), ("i", "s"),
    ("i", "t"), ("a", "l"), ("in", "g"), ("t", "o"), ("o", "f"),
)


def subword_token_counts(
    df: DataFrame,
    merges=DEFAULT_BPE_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_subword_tokens, n_merged) — token counts under a REAL
    ranked-merge subword tokenizer (BPE apply): text normalizes to
    lowercase alphanumerics, every character becomes one symbol, and
    the merge table applies in rank order, each merge replacing all
    its current occurrences left-to-right (single pass per rank — the
    classical BPE apply; unlike GPT-2's re-scanning loop a later merge
    cannot re-trigger an earlier rank, a deliberate and documented
    simplification that keeps the operator a pure column expression).

    Why: whitespace and regex token counts (token_counts) mis-size
    sequence packing for subword-tokenized training runs; this gives
    the real post-merge count without any Python in the hot path.

    Mechanics: spaces become '_' separator symbols, characters are
    space-joined, each merge is ONE literal replace (left-to-right
    non-overlapping — exactly BPE's single-pass pairing), and counts
    are integer length arithmetic. Zero shuffles, whole-stage codegen,
    bit-reproducible on any engine with the same replace semantics.
    """
    for a, b in merges:
        joined = a + b
        if not joined.isalnum():
            raise ValueError(f"merge pair {(a, b)!r} must be alphanumeric")
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.trim(F.regexp_replace(t, " +", " "))
    marked = F.translate(t, " ", "_")
    spaced = F.trim(F.regexp_replace(marked, "(.)", "$1 "))
    for a, b in merges:
        spaced = F.replace(spaced, F.lit(f"{a} {b}"), F.lit(f"{a}{b}"))
    n_sep = F.length(marked) - F.length(F.translate(marked, "_", ""))
    n_symbols = F.when(
        F.length(marked) == 0, F.lit(0)
    ).otherwise(F.size(F.split(spaced, " ")))
    n_chars = F.length(marked) - n_sep  # initial non-separator symbols
    n_tokens = n_symbols - n_sep
    return df.select(
        F.col(id_col).alias("id"),
        n_tokens.cast("bigint").alias("n_subword_tokens"),
        (n_chars - n_tokens).cast("bigint").alias("n_merged"),
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 8,
    min_pair_count: int = 2,
) -> DataFrame:
    """(merge_rank, lhs, rhs, pair_count) — BPE merge-table LEARNING
    over the ``text`` column (Sennrich et al. 2016), the training step
    whose output :func:`subword_token_counts` applies: greedily pick the
    most frequent adjacent symbol pair across the corpus ``n_merges`` times,
    merging it into one symbol after each pick. Ties break (count desc,
    lhs asc, rhs asc) so the learned table is deterministic on every
    engine; learning stops early when no pair reaches
    ``min_pair_count``.

    Text normalizes exactly like the apply side (lowercase, non-[a-z0-9]
    → space) and the corpus immediately collapses to its WORD-COUNT
    table — vocabulary-sized, orders of magnitude smaller than the
    corpus — which is the only thing the loop ever touches (classic BPE
    trainers do the same). Words are held as ``|sym|``-delimited strings
    (``|h||e||y|``); a merge is ONE literal column-side replace of
    ``|a||b|`` with ``|ab|`` — the doubled delimiter makes a match
    start and end only at symbol boundaries, and left-to-right
    non-overlapping replace() IS BPE's single-pass pairing rule
    (``a a a a`` merges to ``aa aa``, not ``aa a a`` — identical
    semantics in Spark and DuckDB, which the oracle unrolls iteration
    by iteration).

    Scale shape: the corpus-sized part — building the word-count table —
    stays a distributed explode + map-side-combined aggregate; the table
    itself is vocabulary-sized, and the greedy merge loop runs on a ONE-
    TIME collect() of it with the classic incremental pair-count
    algorithm (subtract a rewritten word's old adjacent pairs, add its
    new ones). That makes learning O(1) Spark jobs regardless of
    ``n_merges``: the previous shape launched a pair-explode aggregation
    + TakeOrdered(1) + an eager localCheckpoint PER MERGE (~3 jobs x
    n_merges — days of pure scheduler latency at a real tokenizer's 30k+
    merges, independent of data size). The collect is the same
    vocabulary-fits-on-the-driver premise the per-iteration loop already
    rested on (it localCheckpointed the full table every round); word
    pair selection (count desc, lhs asc, rhs asc over ASCII symbols) and
    the left-to-right non-overlapping single-pass merge are replicated
    exactly, and a parity test pins the driver loop to an independent
    per-iteration recount at n_merges=64.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col("text"), F.lit(""))), "[^a-z0-9 ]", " "
        )
    )
    words = (
        df.select(F.explode(F.split(norm, " +")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    spark = df.sparkSession
    # ONE action: the vocabulary-sized word-count table. Everything below
    # is driver-local and launches no further jobs.
    vocab = [[tuple(r["word"]), r["cnt"]] for r in words.collect()]

    from collections import Counter, defaultdict

    pair_counts: Counter = Counter()
    occ: defaultdict = defaultdict(set)  # pair -> indices of words containing it
    for idx, (syms, cnt) in enumerate(vocab):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += cnt
            occ[p].add(idx)

    merges = []
    for rank in range(1, n_merges + 1):
        best = None
        for p, c in pair_counts.items():
            if c < min_pair_count:
                continue
            # maximize count, then SMALLEST (lhs, rhs) — identical to the
            # former orderBy(desc(count), asc(lhs), asc(rhs)): symbols are
            # [a-z0-9]+ so Python's code-point order == Spark's UTF8 order
            if best is None or c > best[1] or (c == best[1] and p < best[0]):
                best = (p, c)
        if best is None:
            break
        (lhs, rhs), c = best
        merged = lhs + rhs
        merges.append((rank, lhs, rhs, c))
        for idx in list(occ[(lhs, rhs)]):
            syms, cnt = vocab[idx]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= cnt
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                occ[p].discard(idx)
            # left-to-right non-overlapping single pass — exactly the
            # semantics of replace('|a||b|' -> '|ab|') on the delimited
            # form ('a a a a' pairs to 'aa aa', never 'aa a a')
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_syms = tuple(out)
            vocab[idx][0] = new_syms
            for i in range(len(new_syms) - 1):
                p = (new_syms[i], new_syms[i + 1])
                pair_counts[p] += cnt
                occ[p].add(idx)
    return spark.createDataFrame(
        merges,
        "merge_rank int, lhs string, rhs string, pair_count bigint",
    )


def ngram_novelty(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
):
    """(id, n_grams, n_unique, novelty_pct) — corpus-level novelty: the
    share of a document's distinct word ``n``-grams that occur in NO
    other document (doc-frequency 1). Boilerplate-heavy and templated
    pages score low; original prose scores high — the standard cheap
    signal for "is this page contributing new text to the corpus"
    (complementary to within-doc repetition_stats and to pairwise
    dedup: novelty is per-document and join-free downstream).

    ``novelty_pct = n_unique·100 div n_grams`` (integer floor);
    documents too short to form a single n-gram report 0 grams and a
    vacuous novelty of 100.

    Scale shape: one distinct-shingle explode (in-row array_distinct,
    same as every dedup operator), ONE map-side-combinable doc-freq
    groupBy, a shingle-keyed join back and ONE per-doc count agg — no
    windows, no buffers; hot boilerplate shingles are bounded by AQE
    skew splitting like the dedup joins.
    """
    from pyspark.sql import functions as F

    from .dedup import word_shingles

    sh = word_shingles(df, text_col, id_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per = (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(per, "id", "left").select(
        "id",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_unique", F.lit(0)).cast("bigint").alias("n_unique"),
        F.coalesce(
            F.expr("(n_unique * 100) DIV n_grams"), F.lit(100)
        ).cast("int").alias("novelty_pct"),
    )


def text_tiling(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 20,
    n_buckets: int = 64,
    radius: int = 2,
    depth_threshold: int = 2000,
):
    """(id, gap_idx, gap_token, sim2, depth, is_boundary) — TextTiling-
    style topic segmentation (Hearst 1997) made integer- and
    engine-exact: the document is cut into fixed ``block_tokens``
    blocks (tail partial block dropped), each block becomes a bag of
    md5-bucketed token counts, and every inter-block gap gets a
    lexical-cohesion score. Instead of cosine (whose sqrt is not
    bit-portable) the score is the SQUARED cosine scaled to integers:

        sim2 = (dot² · 10000) div (|A|²·|B|²)      ∈ [0, 10000]

    — monotone in cosine, so the depth logic is unchanged. Depth at a
    gap is the classic two-sided valley measure with a bounded
    neighbourhood (``radius`` gaps each side, the streaming-friendly
    variant of Hearst's hill-climb):

        depth = max(0, L - s) + max(0, R - s)

    with L/R the neighbourhood maxima; a gap is a boundary when depth
    ≥ ``depth_threshold`` (default 0.2 in sim² units).

    Scale shape: one posexplode (linear), one (id, block, bucket)
    count agg, one adjacent-block equijoin on (id, bucket), one per-id
    gap window for L/R — everything map-side-combinable or keyed on
    the doc id; no arrays cross the shuffle.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .dedup import md5_int

    if block_tokens < 1 or n_buckets < 1 or radius < 1:
        raise ValueError("block_tokens, n_buckets and radius must be >= 1")
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\W+"),
        lambda t: t != F.lit(""),
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks"))
    tok_rows = base.select(
        "id", F.posexplode("toks").alias("pos", "tok"), F.size("toks").alias("n")
    ).filter(F.col("pos") < (F.col("n") - F.col("n") % block_tokens))
    counts = (
        tok_rows.select(
            "id",
            (F.col("pos") / block_tokens).cast("int").alias("block"),
            (md5_int(F.col("tok")) % n_buckets).cast("int").alias("bucket"),
        )
        .groupBy("id", "block", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        # three consumers (norms + both join sides): persist so the
        # token explode + count over the full corpus runs ONCE — the
        # same discipline as the minhash/ExactSubstr scans
        .persist()
    )
    norms = counts.groupBy("id", "block").agg(
        F.sum(F.col("c") * F.col("c")).alias("nsq")
    )
    a = counts.select(
        "id", (F.col("block") + 1).alias("gap"), "bucket", F.col("c").alias("ca")
    )
    b = counts.select(
        "id", F.col("block").alias("gap"), "bucket", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, ["id", "gap", "bucket"])
        .groupBy("id", "gap")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select("id", (F.col("block") + 1).alias("gap"),
                      F.col("nsq").alias("na"))
    nb = norms.select("id", F.col("block").alias("gap"),
                      F.col("nsq").alias("nb"))
    gaps = (
        na.join(nb, ["id", "gap"])  # inner: gap exists only between blocks
        .join(dots, ["id", "gap"], "left")
        .select(
            "id",
            "gap",
            F.coalesce("dot", F.lit(0)).alias("dot"),
            "na",
            "nb",
        )
        .select(
            "id",
            F.col("gap").cast("int").alias("gap_idx"),
            (F.col("gap") * block_tokens).cast("int").alias("gap_token"),
            F.expr("(dot * dot * 10000) DIV (na * nb)").alias("sim2"),
        )
    )
    w = Window.partitionBy("id").orderBy("gap_idx")
    lefts = [F.lag("sim2", k).over(w) for k in range(1, radius + 1)]
    rights = [F.lead("sim2", k).over(w) for k in range(1, radius + 1)]
    s = F.col("sim2")
    left_peak = F.greatest(*(F.coalesce(c, s) for c in lefts)) if len(
        lefts
    ) > 1 else F.coalesce(lefts[0], s)
    right_peak = F.greatest(*(F.coalesce(c, s) for c in rights)) if len(
        rights
    ) > 1 else F.coalesce(rights[0], s)
    depth = (
        F.greatest(left_peak - s, F.lit(0))
        + F.greatest(right_peak - s, F.lit(0))
    )
    return gaps.select(
        "id",
        "gap_idx",
        "gap_token",
        F.col("sim2").cast("bigint").alias("sim2"),
        depth.cast("bigint").alias("depth"),
        (depth >= depth_threshold).alias("is_boundary"),
    )
