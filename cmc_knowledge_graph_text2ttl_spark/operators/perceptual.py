"""Perceptual media hashing + near-dup — image dHash and an audio
energy-difference fingerprint over the pure-stdlib decoders.

The image-side analog of the text near-dup family (dedup.py): exact
image dedup falls out of media_metadata's sha256, but re-encoded /
resized copies need a perceptual fingerprint. dHash (difference hash)
is the standard cheap one: grayscale → nearest-resize to 9×8 → one bit
per adjacent-pixel comparison → 64 bits. Every step here is
integer-exact ((r+g+b)//3 gray, the resize_nearest center rule) so the
fingerprint is closed-form replicable in the DuckDB gate.

The 64 bits are carried as FOUR 16-bit band ints rather than one
bigint — that sidesteps the sign bit AND is exactly the LSH banding
:func:`image_near_dup` needs: pairs within Hamming ≤ h (h < 4) share
at least one identical band (pigeonhole, same argument as
dedup.simhash_near_pairs), so candidates come from four band-keyed
bucket joins — never an all-pairs product — and are verified with an
exact popcount.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from .columns import map_rows
from .multimodal import decode_image, resize_nearest

__all__ = [
    "dhash_bands",
    "image_dhash",
    "image_near_dup",
    "audio_dhash_bands",
    "audio_fingerprint",
    "audio_near_dup",
]

HASH_W, HASH_H = 8, 8  # 8x8 comparison grid over a 9x8 resample


def dhash_bands(w: int, h: int, ch: int, px: bytes) -> Tuple[int, int, int, int]:
    """(b0, b1, b2, b3) 16-bit bands of the 64-bit dHash.

    Channel handling: 1 = gray as-is; 2 = gray+alpha (PNG color type 4)
    takes the gray sample and ignores alpha; 3/4 = RGB(A) integer-floor
    average of the first three samples. Indexing is per-pixel stride so
    a 2-channel image never reads past the buffer (a gray+alpha PNG
    used to raise IndexError on the last pixel)."""
    if ch == 1:
        gray = px
    elif ch == 2:  # gray + alpha: gray sample only
        gray = px[0::2]
    else:
        gray = bytes(
            (px[i] + px[i + 1] + px[i + 2]) // 3
            for i in range(0, w * h * ch, ch)
        )
    g = resize_nearest(gray, w, h, 1, HASH_W + 1, HASH_H)
    bands = [0, 0, 0, 0]
    for gy in range(HASH_H):
        row = gy * (HASH_W + 1)
        for gx in range(HASH_W):
            if g[row + gx + 1] > g[row + gx]:
                i = gy * HASH_W + gx
                bands[i // 16] |= 1 << (i % 16)
    return tuple(bands)  # type: ignore[return-value]


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("b0", IntegerType(), False),
        StructField("b1", IntegerType(), False),
        StructField("b2", IntegerType(), False),
        StructField("b3", IntegerType(), False),
    ]
)


def image_dhash(df: DataFrame) -> DataFrame:
    """(media_id, b0..b3) per decodable (media_id, blob) image row;
    undecodable rows are skipped like resize_media (their exact-dup story
    is the metadata sha256)."""

    def row_fn(mid, raw):
        try:
            w, h, ch, px = decode_image(bytes(raw))
            bands = dhash_bands(w, h, ch, px)
        except (ValueError, NotImplementedError, IndexError):
            # IndexError: a malformed decode result must skip the
            # row, not kill the task (web corpora are adversarial)
            return
        yield (str(mid),) + bands

    return map_rows(df.select("media_id", "blob"), DHASH_SCHEMA, lambda: row_fn)


def audio_dhash_bands(channels: int, samples) -> Tuple[int, int]:
    """(b0, b1) 16-bit bands of a 32-bit audio difference-hash: mono
    mix (integer floor average), 33 equal windows (remainder
    dropped), exact integer energy (sum of squares) per window, one
    bit per adjacent-window comparison — the audio analog of the image
    dHash, every step integer-exact for the SQL gate."""
    if channels > 1:
        mono = [
            sum(samples[f * channels + c] for c in range(channels)) // channels
            for f in range(len(samples) // channels)
        ]
    else:
        mono = list(samples)
    wlen = len(mono) // 33
    if wlen == 0:
        return (0, 0)
    energies = [
        sum(v * v for v in mono[k * wlen : (k + 1) * wlen])
        for k in range(33)
    ]
    b0 = b1 = 0
    for k in range(32):
        if energies[k + 1] > energies[k]:
            if k < 16:
                b0 |= 1 << k
            else:
                b1 |= 1 << (k - 16)
    return (b0, b1)


AUDIO_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("b0", IntegerType(), False),
        StructField("b1", IntegerType(), False),
    ]
)


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """(media_id, b0, b1) per decodable WAV or FLAC (media_id, blob) row
    (undecodable skipped) — a FLAC re-encode of a WAV lands on the
    identical fingerprint because the decoded samples are bit-identical."""
    from .multimodal import decode_audio

    def row_fn(mid, raw):
        try:
            ch, _rate, _nf, samples = decode_audio(bytes(raw))
        except (ValueError, NotImplementedError):
            return
        yield (str(mid),) + audio_dhash_bands(ch, samples)

    return map_rows(
        df.select("media_id", "blob"), AUDIO_DHASH_SCHEMA, lambda: row_fn
    )


def _banded_pairs(
    fps: DataFrame, n_bands: int, max_hamming: int, max_bucket: int
) -> DataFrame:
    """Shared banded LSH pair join over a (media_id, b0..b{n-1})
    fingerprint table: explode one row per band → bucket-size cap →
    self-join on band_key → exact popcount verify pushed into the
    join's filter. Buckets larger than ``max_bucket`` are DROPPED, the
    same boilerplate guard as dedup.minhash_lsh_pairs — pair output is
    quadratic in bucket size, and at web scale one blank-thumbnail
    bucket would otherwise emit trillions of pairs from a single band.
    Callers that only need connectivity should use the star-edge path
    in :func:`media_dedup_clusters`, which identical-fingerprint hot
    clusters can never blow up OR get dropped from."""
    band_names = [f"b{k}" for k in range(n_bands)]
    band_rows = fps.select(
        "media_id",
        *band_names,
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(k)), F.col(f"b{k}").cast("string"))
                    for k in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )
    sizes = band_rows.groupBy("band_key").agg(F.count(F.lit(1)).alias("bsz"))
    band_rows = band_rows.join(
        sizes.filter(F.col("bsz") <= max_bucket).select("band_key"), "band_key"
    )
    cand = (
        band_rows.alias("a")
        .join(band_rows.alias("b"), "band_key")
        .filter(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            *[F.col(f"a.b{k}").alias(f"ab{k}") for k in range(n_bands)],
            *[F.col(f"b.b{k}").alias(f"bb{k}") for k in range(n_bands)],
        )
        .distinct()
    )
    ham = sum(
        F.bit_count(F.col(f"ab{k}").bitwiseXOR(F.col(f"bb{k}")))
        for k in range(n_bands)
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def audio_near_dup(
    df: DataFrame,
    max_hamming: int = 0,
    max_bucket: int = 10_000,
) -> DataFrame:
    """(id_a, id_b, hamming) WAV pairs with fingerprint Hamming ≤
    ``max_hamming`` (< 2 — two 16-bit bands pigeonhole). Same banded
    bucket-join shape as :func:`image_near_dup`, including the
    ``max_bucket`` hot-bucket guard."""
    if not 0 <= max_hamming < 2:
        raise ValueError("max_hamming must be in [0, 1] for 2-band pigeonhole")
    fps = audio_fingerprint(df).persist()  # joined twice
    return _banded_pairs(fps, 2, max_hamming, max_bucket)


def image_near_dup(
    df: DataFrame,
    max_hamming: int = 0,
    max_bucket: int = 10_000,
) -> DataFrame:
    """(id_a, id_b, hamming) image pairs with dHash Hamming distance ≤
    ``max_hamming`` (< 4 — the four 16-bit bands are the pigeonhole).
    Candidates come from four band-keyed bucket joins; the popcount
    verify is exact. Scale shape: identical to simhash_near_pairs —
    shuffle keys are the band values, never an all-pairs product, and
    band buckets over ``max_bucket`` members are dropped (quadratic
    pair-output guard, parity with dedup.minhash_lsh_pairs)."""
    if not 0 <= max_hamming < 4:
        raise ValueError("max_hamming must be in [0, 3] for 4-band pigeonhole")
    # persist: the self-join consumes the fingerprints twice, and
    # re-computing them means re-DECODING every image twice — the
    # dominant cost (same rationale as the minhash shingle persist)
    fps = image_dhash(df).persist()
    return _banded_pairs(fps, 4, max_hamming, max_bucket)


def media_dedup_clusters(
    df: DataFrame,
    modality: str = "image",
    star_edges: bool = True,
    max_bucket: int = 10_000,
) -> DataFrame:
    """(media_id, cluster_id, n_cluster, is_survivor) — resolve
    perceptual near-dup PAIRS of (media_id, blob) rows (Hamming 0: equal
    fingerprints) into clusters with one survivor each, the media analog
    of dedup.near_duplicate_clusters (same CC operator, same survivor
    rule: lexicographically smallest member).
    Undecodable rows are singleton survivors — their exact-dup story
    is the metadata sha256, not a perceptual hash.

    ``star_edges=True`` (default) builds the edge set LINEARLY in hot
    identical-fingerprint clusters: members collapse onto one
    representative per distinct fingerprint (star edges member →
    min-id rep, a map-side-combinable min + one join), and the banded
    LSH pair join runs over DISTINCT fingerprints only. Components are
    identical to the all-pairs path — a star edge joins fingerprints
    at Hamming 0 and any cross-fingerprint pair
    (a, b) is mirrored by its reps (same fingerprints, same bands) —
    but a 10M-copy blank-thumbnail cluster contributes ONE row to the
    pair join instead of a 5·10¹³-pair quadratic blowup, and can never
    be dropped by the ``max_bucket`` guard (the cap sees one distinct
    fingerprint, not 10M members).

    Scale shape identical to the text path: banded pair generation,
    CC over the (tiny) pair graph, one left join + one window."""
    from pyspark.sql import Window

    from .canonicalize import connected_components

    if modality == "image":
        n_bands, fingerprint = 4, image_dhash
    elif modality == "audio":
        n_bands, fingerprint = 2, audio_fingerprint
    else:
        raise ValueError(f"modality must be 'image' or 'audio', got {modality!r}")
    if star_edges:
        band_names = [f"b{k}" for k in range(n_bands)]
        fps = fingerprint(df).persist()
        reps = fps.groupBy(*band_names).agg(
            F.min("media_id").alias("media_id")
        )
        star = (
            fps.join(
                reps.withColumnRenamed("media_id", "rep"), band_names
            )
            .filter(F.col("media_id") != F.col("rep"))
            .select(F.col("media_id").alias("src"), F.col("rep").alias("dst"))
        )
        rep_pairs = _banded_pairs(reps, n_bands, 0, max_bucket)
        edges = star.union(
            rep_pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            )
        )
    else:
        near_dup = image_near_dup if modality == "image" else audio_near_dup
        pairs = near_dup(df, max_bucket=max_bucket)
        edges = pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    comp = connected_components(edges)
    ids = df.select(F.col("media_id").cast("string").alias("media_id")).distinct()
    lab = ids.join(comp, ids["media_id"] == comp["node"], "left").select(
        "media_id", F.coalesce("component", "media_id").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return lab.select(
        "media_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("n_cluster"),
        (F.col("media_id") == F.col("cluster_id")).alias("is_survivor"),
    )
