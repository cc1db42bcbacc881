"""Deduplication operators for large-scale text corpora.

Beyond the reference's per-document rdflib set semantics, a training-data
pipeline needs CROSS-document dedup. All operators below are pure
DataFrame compositions (JVM-side, whole-stage codegen; no Python UDFs):

* exact dedup             — hash-groupBy (one shuffle on the digest)
* n-gram Jaccard pairs    — shingle explode → shingle-equijoin → ratio
* MinHash + LSH           — shingle → k minhashes (one grouped agg) →
                            band buckets → candidate join → exact verify
* SimHash                 — token-bit weighted sums → per-chunk bucket join
* embedding near-dup      — cosine over `array<float>` via zip_with/aggregate

Determinism: every hash is derived from md5 (stable everywhere), so the
DuckDB oracle in __spark_entry__ reproduces the exact same buckets and
the driver's value-hash comparison holds bit-for-bit.

Scale notes (100 TB): shingle explosion is the dominant cost — it stays
proportional to corpus size and feeds ONE map-side-combinable groupBy
per doc for minhash signatures; candidate pairs only materialize within
LSH buckets (never the quadratic pair space); the final verify join
touches candidates only. Hot buckets (boilerplate shingles) are bounded
with `max_bucket` (drop pathological buckets, standard practice) and AQE
skew-join splitting handles the rest.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Same constants as the oracle SQL in __spark_entry__ — change together.
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
MINHASH_MAX_HASHES = 64


def _hash_params(n_hashes: int) -> List[Tuple[int, int]]:
    """Deterministic (a, b) pairs for the minhash family h_i = (a*x+b) % p.

    Derived from a fixed linear congruence, not an RNG — identical in the
    SQL oracle. a stays < 2^20 so a*x fits comfortably in int64.
    """
    return [(1 + 7 * i + (i * i) % 31, 1_000_003 * (i + 1) % 999_983) for i in range(n_hashes)]


def md5_int(col: Column) -> Column:
    """First 32 bits of md5 as a bigint (stable across Spark and DuckDB:
    conv(substr(md5(x),1,8),16,10)  ==  ('0x'||substr(md5(x),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _positions(n_windows: Column) -> Column:
    """[1..n_windows], or EMPTY when n_windows < 1. Spark's
    sequence(1, 0) counts DOWN to [1, 0] (unlike DuckDB's empty
    generate_series), so short inputs need the explicit empty branch."""
    return F.when(
        n_windows >= 1, F.sequence(F.lit(1), n_windows)
    ).otherwise(F.array().cast("array<int>"))


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 5) -> DataFrame:
    """(id, shingle) — distinct character n-grams per document.

    Built from sequence+transform+substr: stays inside codegen, no UDF.
    Documents shorter than n yield no shingles.
    """
    pos = _positions(F.length(text_col) - n + 1)
    # array_distinct BEFORE explode: the per-document dedup happens in-row
    # inside codegen — zero shuffle (a .distinct() here would shuffle the
    # full shingle multiset, the dominant cost at corpus scale).
    sh = F.explode(
        F.array_distinct(F.transform(pos, lambda i: F.col(text_col).substr(i, F.lit(n))))
    )
    return df.select(F.col(id_col).alias("id"), sh.alias("shingle"))


def word_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
) -> DataFrame:
    """(id, shingle) — distinct word ``n``-grams per document.

    GPT-3/Pile-style decontamination units: tokens are lowercased
    ``\\W+`` splits, shingles are n-token windows joined by a single
    space. Pure higher-order-function columns (split / filter /
    sequence / transform / slice / array_join) — stays in codegen, and
    ``array_distinct`` before the explode keeps per-doc dedup in-row.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\W+"), lambda t: t != F.lit(""))
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks"))
    pos = _positions(F.size("toks") - n + 1)
    sh = F.explode(
        F.array_distinct(
            F.transform(pos, lambda i: F.array_join(F.slice("toks", i, n), " "))
        )
    )
    return base.select("id", sh.alias("shingle"))


def exact_duplicates(df: DataFrame, max_ids: int = 1000) -> DataFrame:
    """Exact dedup groups of (doc_id, text): (content_hash, n_docs, keep_id,
    doc_ids).

    keep_id = min id per group (deterministic survivor). Only groups with
    more than one member are duplicates; singletons are kept for the
    caller to decide (filter n_docs > 1 for the dupe report).

    ``doc_ids`` holds the ``max_ids`` smallest ids per group, and the cap
    is applied BEFORE the array aggregation (row_number over a window
    partitioned by content_hash, filtered <= max_ids): a degenerate
    all-identical corpus (one viral page duplicated 10^8 times) never
    builds an unbounded array in any aggregation buffer. ``n_docs`` stays
    exact regardless (count over the unfiltered window). The groupBy
    reuses the window's hash partitioning on content_hash, so this is
    still a single shuffle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash")
    ranked = df.select(
        F.col("doc_id").alias("id"), F.md5(F.col("text")).alias("content_hash")
    ).select(
        "id",
        "content_hash",
        F.row_number().over(w.orderBy("id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_docs"),
    )
    return (
        ranked.filter(F.col("rn") <= max_ids)
        .groupBy("content_hash", "n_docs")
        .agg(
            F.min("id").alias("keep_id"),
            F.sort_array(F.collect_list("id")).alias("doc_ids"),
        )
        .select("content_hash", "n_docs", "keep_id", "doc_ids")
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """All pairs of (doc_id, text) rows (id_a < id_b) with shingle-set
    (character 5-gram) Jaccard >= threshold.

    Exact (no approximation): shingle equijoin computes |A∩B| per pair,
    per-doc distinct counts give |A|,|B|.

    SCALE WARNING: the equijoin materializes sum(df(shingle)^2) rows — on
    homogeneous corpora (shared boilerplate shingles) that is effectively
    quadratic; exact all-pairs Jaccard is inherently so. This operator is
    the small-corpus tool and the VERIFIER for candidates; the web-scale
    path is minhash_lsh_pairs (candidates only, verification restricted
    to candidate ids).
    """
    sh = shingles(df, "text", "doc_id").persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(df: DataFrame, n_hashes: int = 16) -> DataFrame:
    """(id, h0..h{k-1}) minhash signature of (doc_id, text) rows' character
    5-gram shingles via ONE grouped aggregation.

    The k min() aggregates are map-side combinable: each partition reduces
    its shingles locally before the single shuffle on id.
    """
    assert n_hashes <= MINHASH_MAX_HASHES
    sh = shingles(df, "text", "doc_id")
    # project the md5 ONCE per shingle — as an agg-function input it would
    # be re-evaluated per hash function (n_hashes x md5 per shingle)
    hx = sh.select("id", md5_int(F.col("shingle")).alias("x"))
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
        for i, (a, b) in enumerate(_hash_params(n_hashes))
    ]
    return hx.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    threshold: float = 0.7,
    verify: bool = True,
    max_bucket: int = 10_000,
    broadcast_max_docs: int = 200_000,
) -> DataFrame:
    """Near-duplicate pairs of (doc_id, text) rows via MinHash banding,
    optionally exact-verified.

    rows_per_band = n_hashes // bands; two docs become candidates iff one
    band of their signatures is identical. Buckets larger than
    `max_bucket` are dropped (boilerplate guard — at web scale one "empty
    page" bucket would otherwise create a quadratic blowup).

    ``broadcast_max_docs``: the verify phase broadcasts the candidate
    docs' shingle-set arrays (fast path — no shuffle carries arrays);
    above this many candidate docs (~1.5 KB/doc of broadcast) it falls
    back to shuffle joins so a degenerate corpus whose candidates span
    most documents cannot OOM the driver. Results are identical either
    way — only the join strategy changes.
    """
    assert n_hashes % bands == 0
    rpb = n_hashes // bands
    # The shingle explode feeds ONLY the signature aggregation (the
    # verify phase below works on per-doc shingle-set arrays, never the
    # exploded multiset) — one streaming pass, nothing persisted.
    sh = shingles(df, "text", "doc_id", shingle_n)
    hx = sh.select("id", md5_int(F.col("shingle")).alias("x"))
    sig = hx.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
            for i, (a, b) in enumerate(_hash_params(n_hashes))
        ]
    )
    band_cols = [
        F.md5(F.concat_ws(",", *[F.col(f"h{b * rpb + r}") for r in range(rpb)])).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    # `buckets` (n_docs x bands tiny rows) is consumed three times below
    # (bucket sizes + both sides of the candidate self-join); persisting it
    # keeps the corpus-scan + 16-min-agg signature tower to ONE execution
    # instead of two (the plan otherwise duplicates the whole subtree).
    buckets = banded.select(
        "id",
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(str(b)), F.col(f"band{b}")) for b in range(bands)
            ])
        ).alias("bucket"),
    ).persist()
    sizes = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsz"))
    buckets = buckets.join(
        sizes.filter(F.col("bsz") <= max_bucket).select("bucket"), "bucket"
    )
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    cand = cand.persist()  # consumed twice below (id set + pair join)
    # Verification cost must scale with the CANDIDATE PAIRS, not with
    # pairs x shingles: the old shape (cand ⋈ shingles(id_a) ⋈
    # shingles(id_b, shingle) → groupBy) materialized |cand| x |doc
    # shingles| rows across two shuffles — ~9e8 intermediate rows at 50k
    # docs on a homogeneous corpus, quadratic in corpus size. Instead,
    # attach each candidate doc's shingle SET as an array (recomputed
    # in-row from the text — same transform as shingles(), zero shuffle)
    # via two broadcast joins, and compute |A∩B| per pair with
    # array_intersect inside codegen: per-pair O(|A|+|B|), no fan-out.
    # The broadcast is bounded by the candidate-doc set — the same bound
    # the previous broadcast(cand_ids) semi-join already assumed, and at
    # web scale the max_bucket cap keeps candidates sparse.
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    ).persist()
    # One cheap count (cand is persisted, so the work is reused by the
    # pair join) decides the verify join strategy: broadcast while the
    # candidate-doc array table is comfortably driver-sized, shuffle
    # joins beyond that — same rows out of either plan.
    n_cand_docs = cand_ids.count()
    bcast = F.broadcast if n_cand_docs <= broadcast_max_docs else (lambda d: d)
    pos = _positions(F.length("text") - shingle_n + 1)
    shset = F.array_distinct(
        F.transform(pos, lambda i: F.col("text").substr(i, F.lit(shingle_n)))
    )
    arrs = (
        df.select(F.col("doc_id").alias("id"), shset.alias("shset"))
        .join(bcast(cand_ids), "id")
        .select("id", "shset", F.size("shset").alias("sz"))
    )
    a = arrs.select(
        F.col("id").alias("id_a"), F.col("shset").alias("set_a"), F.col("sz").alias("sz_a")
    )
    b = arrs.select(
        F.col("id").alias("id_b"), F.col("shset").alias("set_b"), F.col("sz").alias("sz_b")
    )
    pruned = (
        cand.join(bcast(a), "id_a")
        .join(bcast(b), "id_b")
        # exact-safe size prune (set-similarity length filter): true
        # J = I/(szA+szB-I) <= min(sz)/max(sz), and double division is
        # monotonic, so pairs failing this could never pass the final
        # filter — intersections are skipped for them entirely. This
        # filter references only join-side columns, so it pushes into the
        # broadcast join condition and runs BEFORE the intersection.
        .filter(
            F.least("sz_a", "sz_b") / F.greatest("sz_a", "sz_b") >= F.lit(threshold)
        )
    )
    # `+ floor(rand()*0)` is identically zero — the nondeterministic term
    # is a pushdown BARRIER, not logic: without it Catalyst substitutes
    # `inter` into the downstream filters and pushes them into the join
    # condition, where array_intersect is then evaluated 3-4x per
    # candidate pair (measured 3.5x slower end to end). rand() keeps the
    # projection non-collapsible/non-pushable at the cost of one RNG call
    # per row; the value of `inter` is unchanged.
    barrier = F.floor(F.rand() * F.lit(0.0)).cast("int")
    with_inter = pruned.select(
        "id_a",
        "id_b",
        "sz_a",
        "sz_b",
        (F.size(F.array_intersect("set_a", "set_b")) + barrier).alias("inter"),
    )
    out = (
        with_inter
        # parity with the former inner equijoin: pairs sharing no
        # shingle never appeared in it, whatever the threshold
        .filter(F.col("inter") > 0)
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def verbatim_overlap_pairs(df: DataFrame, n: int = 50, max_gram_docs: int = 1000) -> DataFrame:
    """(id_a, id_b, n_shared) — (doc_id, text) document pairs sharing at
    least one VERBATIM ``n``-word passage, with the count of shared
    distinct passages. The cross-document exact-substring dedup step (the
    "50-token verbatim overlap" filter training pipelines run after
    fuzzy dedup): at n=50 a shared gram is essentially proof of copying.

    Shape: in-row word shingling (no multiset shuffle) → md5 the gram so
    the join key is a fixed-width digest, never the 50-word string →
    drop grams appearing in more than ``max_gram_docs`` docs (license
    boilerplate guard — the analog of the LSH hot-bucket cap) →
    self-equijoin on the digest → count per pair. Join fan-out is
    quadratic only within one gram's doc set, which the cap bounds.
    """
    sh = word_shingles(df, "text", "doc_id", n).select(
        "id", F.md5(F.col("shingle")).alias("g")
    )
    freq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    sh = sh.join(freq.filter(F.col("n_docs") <= max_gram_docs).select("g"), "g")
    return (
        sh.alias("a")
        .join(sh.alias("b"), "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def near_duplicate_clusters(df: DataFrame, method: str = "minhash", **pair_kwargs) -> DataFrame:
    """(id, cluster_id, n_cluster, is_survivor) — resolve near-duplicate
    PAIRS of (doc_id, text) rows into clusters and pick one survivor per
    cluster: the step every real pipeline runs after pair generation.

    Pairs come from :func:`minhash_lsh_pairs` (default) or
    :func:`simhash_near_pairs` (``method='simhash'``); extra kwargs pass
    through. Pairs feed :func:`~.canonicalize.connected_components`
    (driver union-find up to its default threshold of edges, the
    distributed min-label loop above), so transitive chains A~B~C collapse
    into one cluster even when (A, C) itself was never a candidate pair.

    ``cluster_id`` is the component label = lexicographically smallest
    member id AS A STRING (ids are stringified for the generic CC
    operator; "10" < "9" — deterministic, partition-independent, but not
    numeric order). The survivor is the member equal to its cluster_id;
    docs with no near-dup pair are singleton survivors.

    Scale shape: pair generation is the bucketed LSH path (never
    all-pairs); CC shuffles only the pair graph (tiny next to the
    corpus); the final labeling is one broadcast-friendly left join plus
    one window over cluster_id.
    """
    if method == "minhash":
        pairs = minhash_lsh_pairs(df, **pair_kwargs)
    elif method == "simhash":
        pairs = simhash_near_pairs(df, **pair_kwargs)
    else:
        raise ValueError(f"method must be 'minhash' or 'simhash', got {method!r}")
    from pyspark.sql import Window

    from .canonicalize import connected_components

    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comp = connected_components(edges)
    ids = df.select(F.col("doc_id").cast("string").alias("id"))
    lab = (
        ids.join(comp, ids["id"] == comp["node"], "left")
        .select("id", F.coalesce("component", "id").alias("cluster_id"))
    )
    w = Window.partitionBy("cluster_id")
    return lab.select(
        "id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("n_cluster"),
        (F.col("id") == F.col("cluster_id")).alias("is_survivor"),
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    bench_text_col: str = "text",
    unit: str = "word",
) -> DataFrame:
    """(id, contaminated) — GPT-3/Pile-style test-set decontamination:
    a training document (doc_id, text) is contaminated iff it shares at
    least one 13-gram with ANY benchmark document.

    ``unit='word'`` (default) matches the published GPT-3/Pile recipe:
    13 lowercase word-grams. ``unit='char'`` is the character-gram
    variant — far more aggressive (a 13-character overlap is ~2 English
    words, shared by nearly all same-language documents), kept only for
    callers that explicitly want substring-level matching.

    The benchmark side needs only ``bench_text_col`` — no id column is
    read from it, so benchmark tables with any (or no) id schema work.

    Shape: the benchmark shingle set is tiny next to the corpus, so the
    overlap test is a LEFT SEMI join of corpus shingles against the
    (deduplicated) benchmark shingles — broadcast by AQE when small —
    followed by a distinct on id. The corpus side reuses the in-row
    ``array_distinct`` shingling (no shuffle of the raw multiset).
    """
    if unit not in ("word", "char"):
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    mk = word_shingles if unit == "word" else shingles
    corpus_sh = mk(df, "text", "doc_id", 13)
    bench_sh = (
        mk(
            benchmark.select(F.lit(0).alias("__bench_id"), F.col(bench_text_col)),
            bench_text_col,
            "__bench_id",
            13,
        )
        .select("shingle")
        .distinct()
    )
    hits = corpus_sh.join(bench_sh, "shingle", "left_semi").select("id").distinct()
    ids = df.select(F.col("doc_id").alias("id"))
    return ids.join(
        hits.withColumn("contaminated", F.lit(True)), "id", "left"
    ).select("id", F.coalesce("contaminated", F.lit(False)).alias("contaminated"))


def simhash(df: DataFrame, bits: int = 32) -> DataFrame:
    """(id, simhash) — token-level SimHash fingerprint of (doc_id, text)
    rows, bigint.

    Tokens = lowercase word splits. For each bit position, sum +1/-1 over
    tokens by that bit of md5(token); the sign gives the fingerprint bit.
    One explode + one grouped agg with `bits` sums (map-side combinable).
    """
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.lower(F.col("text")), r"\W+")).alias("tok"),
    ).filter(F.col("tok") != "")
    hx = toks.select("id", md5_int(F.col("tok")).alias("h"))
    sums = hx.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else (fp + bit)
    return sums.select("id", fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs of (doc_id, text) rows with Hamming(simhash) <= max_hamming
    via the chunk pigeonhole:
    if two fingerprints differ in <= max_hamming bits and we split into
    `chunks` > max_hamming chunks, at least one chunk is identical —
    bucket-join on each chunk, then exact popcount verify."""
    assert chunks > max_hamming
    fps = simhash(df, bits)
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_rows = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.concat_ws(
                    ":",
                    F.lit(str(c)),
                    (F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask))).cast("string"),
                )
                for c in range(chunks)
            ])
        ).alias("chunk"),
    )
    cand = (
        chunk_rows.alias("a")
        .join(chunk_rows.alias("b"), "chunk")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def hyperplane_weights(n_planes: int, dim: int) -> List[List[float]]:
    """Deterministic pseudo-random plane weights in [-1, 1): derived from
    md5(plane:dim-index) — identical formula in the SQL oracle."""
    import hashlib

    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate (vec_id, embedding) vectors by cosine >= threshold.

    Scale path: random-hyperplane LSH — the sign pattern of `n_planes`
    deterministic projections buckets the vectors; only in-bucket pairs
    get the exact cosine. Projections are PER-ROW array folds against
    literal weight arrays (zero shuffle, deterministic summation order —
    required for the bit-exact DuckDB oracle); an explode+groupBy would
    shuffle rows x dims and sum in nondeterministic order.
    """
    if dim is None:
        dim = emb.select(F.size("embedding").alias("d")).first().d
    weights = hyperplane_weights(n_planes, dim)

    def proj(p: int):
        w_arr = F.array(*[F.lit(w) for w in weights[p]])
        return F.aggregate(
            F.zip_with(F.col("embedding"), w_arr, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bucket = F.concat_ws(
        "", *[F.when(proj(p) >= 0, "1").otherwise("0") for p in range(n_planes)]
    )
    # One projection computes bucket, the double-cast vector and the norm
    # per VECTOR (O(N·dim)); the previous shape re-joined the vectors by
    # id after a pair-distinct and recomputed both norms per PAIR
    # (O(pairs·dim), quadratic within buckets). Each id carries exactly
    # one bucket row, so every in-bucket pair meets exactly once and the
    # old pair-level distinct was redundant. The per-pair double-op
    # sequence is unchanged (pre-cast array feeds the identical fold), so
    # cosines are bit-identical. The self-join is salted the same way as
    # semdedup's: few hot sign-pattern buckets would otherwise pin the
    # quadratic work to a handful of reduce tasks.
    prep = emb.select(
        F.col("vec_id").alias("id"),
        bucket.alias("bucket"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vd"),
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    pair_salts = max(1, emb.sparkSession.sparkContext.defaultParallelism)
    a = prep.select(
        "bucket",
        F.col("id").alias("id_a"),
        F.col("vd").alias("va"),
        F.col("nrm").alias("na"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(pair_salts))
        .cast("int")
        .alias("s"),
    )
    b = prep.select(
        "bucket",
        F.col("id").alias("id_b"),
        F.col("vd").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode(F.sequence(F.lit(0), F.lit(pair_salts - 1))).alias("s"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["bucket", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semdedup(
    emb: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.5,
    quantize: int = 1_000_000,
    max_cluster: Optional[int] = 10_000,
) -> DataFrame:
    """(id, cell_id, group_id, n_group, centroid_sim_scaled, is_kept) —
    SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    SEMANTIC deduplication over the ``embedding`` column of (vec_id,
    embedding) rows.

    Vectors are k-means-clustered (md5-seeded centroids + one quantized
    Lloyd step, shared with the IVF index build in
    :mod:`..operators.similarity`); within each cluster, pairs with
    cosine >= ``threshold`` are semantic duplicates; pairs resolve to
    groups via the shared connected-components operator, and per group
    ONE example is kept — the member with the LOWEST cosine to its
    cluster centroid (the paper's keep rule: low-centroid-similarity
    examples are the least prototypical, so keeping them preserves
    diversity), ties broken by id. Rows with no duplicate pair are
    singleton keeps.

    Determinism: the keep rule orders on ``floor(10000 * cosine)``
    (an integer) then the stringified id, so the survivor choice is
    partition-independent and engine-portable (the DuckDB oracle
    replays the identical centroid build and rule).

    Scale shape (100 TB): pair generation is confined to clusters —
    never all-pairs — and clusters larger than ``max_cluster`` are
    excluded from pair generation entirely (their members stay
    singleton keeps): a degenerate mega-cluster (near-constant
    embeddings) would otherwise emit O(n²/k²) pairs from one cell.
    The centroid join is a broadcast of ``n_cells`` rows; CC shuffles
    only the pair graph; the final labeling is one window over
    group_id. In production, ``n_cells`` scales as ~sqrt(N) so the
    expected per-cell pair cost stays linear in N.
    """
    from pyspark.sql import Window

    from .canonicalize import connected_components
    from .similarity import _dot, _norm, assign_cells, make_centroids

    centroids = make_centroids(emb, n_cells, quantize=quantize)
    assigned = assign_cells(emb, centroids)
    withsim = (
        assigned.join(F.broadcast(centroids), "cell_id")
        .select(
            F.col("vec_id").cast("string").alias("id"),
            "cell_id",
            F.col("embedding").alias("v"),
            F.floor(
                F.lit(10_000.0)
                * _dot(F.col("embedding"), F.col("centroid"))
                / (_norm(F.col("embedding")) * _norm(F.col("centroid")))
            )
            .cast("bigint")
            .alias("centroid_sim_scaled"),
        )
        .persist()
    )
    # hot-cluster guard: cells above the cap skip pair generation
    ok_cells = withsim.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    if max_cluster is not None:
        ok_cells = ok_cells.filter(F.col("n_cell") <= max_cluster)
    eligible = withsim.join(
        F.broadcast(ok_cells.select("cell_id")), "cell_id"
    )
    # Hoist the per-VECTOR work out of the per-PAIR loop: the float ->
    # double cast and the norm are O(N·dim) here but were O(pairs·dim)
    # when recomputed inside the pair expressions (pairs is quadratic in
    # cell size). The double-op sequence per pair is unchanged — the
    # pre-cast array feeds the identical zip_with/aggregate fold, so
    # every cosine is bit-identical to the previous form.
    prep = eligible.select(
        "cell_id",
        "id",
        F.transform(F.col("v"), lambda x: x.cast("double")).alias("vd"),
        F.sqrt(
            F.aggregate(
                F.col("v"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    # The self-join key has only n_cells distinct values — unsalted, the
    # whole quadratic pair workload lands on n_cells reduce tasks however
    # many cores exist. Salting by a DETERMINISTIC hash of the id (guide
    # rule: never rand-derived keys) spreads each cell over `pair_salts`
    # partitions: the a-side carries its own salt, the b-side is
    # replicated across all salts, so every in-cell pair still meets
    # exactly once and the pair set is unchanged.
    pair_salts = max(1, emb.sparkSession.sparkContext.defaultParallelism)
    a = prep.select(
        "cell_id",
        F.col("id").alias("id_a"),
        F.col("vd").alias("va"),
        F.col("nrm").alias("na"),
        F.pmod(F.xxhash64("id"), F.lit(pair_salts)).cast("int").alias("s"),
    )
    b = prep.select(
        "cell_id",
        F.col("id").alias("id_b"),
        F.col("vd").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode(F.sequence(F.lit(0), F.lit(pair_salts - 1))).alias("s"),
    )
    # NOTE: an unrolled getItem add-chain dot (the shape that wins in
    # embedding_link, where cosine feeds an aggregate directly) was
    # MEASURED 9x SLOWER here — the cosine>=threshold filter gets
    # substituted into the pair-join condition and the giant expression
    # defeats codegen — so the dot stays a zip_with/aggregate fold.
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, ["cell_id", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    comp = connected_components(pairs)
    lab = (
        withsim.join(comp, withsim["id"] == comp["node"], "left")
        .select(
            "id",
            "cell_id",
            "centroid_sim_scaled",
            F.coalesce("component", F.col("id")).alias("group_id"),
        )
    )
    w = Window.partitionBy("group_id")
    me = F.struct(
        F.col("centroid_sim_scaled").alias("s"), F.col("id").alias("i")
    )
    return lab.select(
        "id",
        "cell_id",
        "group_id",
        F.count(F.lit(1)).over(w).alias("n_group"),
        "centroid_sim_scaled",
        (me == F.min(me).over(w)).alias("is_kept"),
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_sentences: int = 3,
) -> DataFrame:
    """(id, text, n_sentences, n_removed) — C4-style GLOBAL span
    deduplication (Raffel et al. 2020 §2.2: "we discarded all but one
    of any three-sentence span occurring more than once in the data
    set"). The canonical occurrence of a span is the lexicographically
    smallest (id, span_start) — a seed-free, partition-independent
    rule — and every sentence covered by a duplicated span elsewhere
    is dropped from the rebuilt text.

    Sentence splitting is the deliberately simple cross-engine rule
    ``split(text, '. ')`` (literal period-space): split + rejoin is an
    exact identity on untouched documents, and DuckDB's string_split
    replays it byte-for-byte — a smarter segmenter (abbreviations,
    decimal points) would diverge between engines and is a tuning
    knob, not a semantics change.

    Scale shape (100 TB): sentence explode is linear; the span table
    feeds ONE map-side-combinable min-struct groupBy on the span hash
    (no buffers — min, not collect); losers join back on the hash and
    explode to at most ``span_sentences`` removal rows each; rebuild
    is one per-doc aggregation bounded by document length. Two
    shuffles end-to-end plus the loser join. No Python anywhere.
    """
    if span_sentences < 1:
        raise ValueError("span_sentences must be >= 1")
    k = span_sentences
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\. ").alias("sents"),
    )
    n = F.size(F.col("sents"))
    spans = base.select(
        "id",
        "sents",
        F.explode(
            F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("s"),
    ).select(
        "id",
        "s",
        F.md5(
            F.concat_ws(". ", F.slice(F.col("sents"), F.col("s") + 1, k))
        ).alias("h"),
    )
    keepers = spans.groupBy("h").agg(
        F.min(F.struct("id", "s")).alias("keep")
    )
    losers = (
        spans.join(keepers, "h")
        .filter(
            ~(
                (F.col("id") == F.col("keep.id"))
                & (F.col("s") == F.col("keep.s"))
            )
        )
        .select("id", "s")
    )
    removed = losers.select(
        "id", F.explode(F.sequence(F.col("s"), F.col("s") + k - 1)).alias("j")
    ).distinct()
    sent_rows = base.select(
        "id", F.posexplode(F.col("sents")).alias("j", "sent")
    )
    kept = sent_rows.join(removed, ["id", "j"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            ". ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "sent"))),
                lambda x: x["sent"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    counts = base.select("id", n.alias("n_sentences"))
    return (
        counts.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.col("n_sentences").cast("int").alias("n_sentences"),
            (F.col("n_sentences") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
    drop_all: bool = False,
) -> DataFrame:
    """(id, text, n_tokens, n_removed) — token-level EXACT-SUBSTRING
    span removal (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", ExactSubstr): every ``n``-token window
    whose token sequence occurs more than once in the WHOLE corpus
    (within-document repeats count) marks its tokens for removal, and
    the document text is rebuilt from the surviving tokens.

    ``drop_all=False`` (default) keeps the canonical occurrence — the
    lexicographically smallest (id, start), the same seed-free rule as
    :func:`span_dedup` — so one copy of every duplicated passage
    survives the corpus. ``drop_all=True`` is the paper's tool default:
    every occurrence is cut, including the first.

    Tokens are literal single-space splits (``split(text, ' ')``): the
    split/rejoin is an exact identity on untouched documents and DuckDB
    replays it byte-for-byte. Overlapping duplicated windows union
    naturally — token coverage is deduplicated per (id, index) before
    the rebuild, so a long verbatim passage is removed once even though
    every window inside it is duplicated.

    Scale shape (100 TB): the window explode is linear in corpus tokens
    and feeds ONE map-side-combinable agg on the window hash (count +
    min-struct — no buffers); only occurrences of DUPLICATED windows
    come back through the hash join and fan out ×n into coverage rows
    (bounded by n × duplicated-token volume, not corpus volume); the
    rebuild is one per-doc aggregation bounded by document length.
    No Python anywhere.
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    base = df.select(
        F.col(id_col).alias("id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ", -1).alias("toks"),
    )
    nt = F.size(F.col("toks"))
    # ALL window positions — no array_distinct: a document repeating its
    # own n-gram is a corpus-level duplicate too (Lee et al. count total
    # occurrences, not distinct documents).
    spans = base.select(
        "id",
        F.explode(
            F.when(nt >= n, F.sequence(F.lit(0), nt - n)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("s"),
        "toks",
    ).select(
        "id",
        "s",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("s") + 1, n))).alias(
            "h"
        ),
    )
    # consumed twice (global count agg + occurrence join): persisting
    # halves the dominant cost — the window explode over the full corpus
    # — exactly the minhash shingle-scan discipline above
    spans = spans.persist()
    counts = spans.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min(F.struct("id", "s")).alias("keep")
    )
    dup = spans.join(counts.filter(F.col("cnt") >= 2), "h")
    if not drop_all:
        dup = dup.filter(
            ~((F.col("id") == F.col("keep.id")) & (F.col("s") == F.col("keep.s")))
        )
    removed = dup.select(
        "id", F.explode(F.sequence(F.col("s"), F.col("s") + n - 1)).alias("j")
    ).distinct()
    tok_rows = base.select("id", F.posexplode(F.col("toks")).alias("j", "tok"))
    kept = tok_rows.join(removed, ["id", "j"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = base.select("id", nt.alias("n_tokens"))
    return totals.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )
