"""Multimodal-column plans (mm_*): image/audio/video as opaque ``binary``
columns with typed metadata — decode, resize, tiling, channel stats,
perceptual hashes and image dedup, audio features and voice-activity
segmentation, frame sampling and content-addressed chunking.

The testdata has no binary media, so the binary column is synthesized
from document text (UTF-8 bytes) — the *plumbing* is the product here:
binary schema, content hashing, Arrow-batched decode over mapInPandas,
frame-sample fanout. Real media decode is STUBBED deterministically
(no image/audio libs in this environment): etl_cnpjs_spark/operators/
multimodal.py marks the real-decoder seam with NotImplementedError and
substitutes a deterministic fake feature extractor, so every downstream
shape (schema, batch handling, partitioning) is real and tested. The
BMP and WAV decoders are real (pure-Python container formats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.operators.multimodal import decode_features_map_in_pandas
from etl_cnpjs_spark.plans.registry import register


def _with_blob(df: DataFrame) -> DataFrame:
    """Synthesize the opaque media column: blob = UTF-8 bytes of text."""
    return df.select(
        "doc_id",
        F.col("text").cast("binary").alias("blob"),
        F.col("source").alias("media_source"),
    )


@register(
    "mm_meta",
    oracle="""
    SELECT doc_id,
           source                     AS media_source,
           octet_length(encode(text)) AS n_bytes,
           sha256(text)               AS content_sha256,
           substr(sha256(text), 1, 16) AS content_id
    FROM documents
    -- DuckDB 1.0's sha256 binds VARCHAR only; the blob here is exactly the
    -- UTF-8 bytes of text, so hashing the VARCHAR is byte-identical to
    -- Spark's sha2(blob, 256).
    """,
    tags=("north_star", "multimodal"),
)
def mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column: byte length +
    content-addressed identity (sha256). At 100 TB this is the dedup /
    partition / lineage key layer for media lakes — computed JVM-side in
    one scan, no decode."""
    d = _with_blob(table(spark, sf_dir, "documents"))
    sha = F.sha2(F.col("blob"), 256)
    return d.select(
        "doc_id",
        "media_source",
        F.length("blob").alias("n_bytes"),
        sha.alias("content_sha256"),
        F.substring(sha, 1, 16).alias("content_id"),
    )


@register(
    "mm_decode",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text))                        AS n_bytes,
           octet_length(encode(text)) % 640                  AS width,
           (octet_length(encode(text)) * 7) % 480            AS height,
           1 + octet_length(encode(text)) % 120              AS n_frames
    FROM documents
    """,
    tags=("north_star", "multimodal", "udf"),
)
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode over mapInPandas: blob → (width, height,
    n_frames). The decode itself is the deterministic STUB (real decoder
    seam raises NotImplementedError; see operators/multimodal.py) — the
    Spark-side contract (binary in via Arrow, typed struct out, batch
    iteration, executor-side libs) is exactly the real one."""
    d = _with_blob(table(spark, sf_dir, "documents"))
    return decode_features_map_in_pandas(d)


@register(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id,
           unnest(list_transform(
             generate_series(0, (octet_length(encode(text)) % 120) // 10),
             i -> i * 10)) AS frame_idx
    FROM documents
    """,
    tags=("north_star", "multimodal"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling fanout: every 10th frame index per media blob
    (n_frames stubbed from byte length). sequence+explode — a narrow op,
    no shuffle; at scale the decode UDF runs *after* this fanout so each
    task decodes only its sampled frames."""
    d = _with_blob(table(spark, sf_dir, "documents"))
    n_frames = F.length("blob") % 120  # stub: fake frame count (see mm_decode)
    idx = F.sequence(F.lit(0), n_frames, F.lit(10))
    return d.select("doc_id", F.explode(idx).alias("frame_idx"))


@register(
    "mm_decode_wav",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT)          AS channels,
           CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
           CAST(16 AS INT)                      AS bits,
           n_chars * 10                         AS n_samples,
           (n_chars * 10 * 1000) // (8000 * (1 + doc_id % 3)) AS duration_ms
    FROM documents
    """,
    tags=("north_star", "multimodal", "udf"),
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary decode, end to end: each doc synthesizes a valid
    RIFF/WAVE file (PCM silence, parameters derived from the doc key),
    and the features come from PARSING those bytes back — chunk walk,
    struct-unpacked fmt header, data-chunk sizing — all executor-side
    over Arrow batches (operators/multimodal.py::synth_wav/parse_wav,
    pure stdlib). The oracle re-derives the parameters from the
    generation formulas, so the compare proves the encoder and the
    parser agree through actual bytes. This retires 'decode is only a
    stub' for uncompressed containers; decode_media remains the seam
    for codec-backed formats (JPEG/MP4 need libraries this environment
    lacks)."""
    from etl_cnpjs_spark.operators.multimodal import wav_roundtrip_map_in_pandas

    d = table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") * 10).alias("n_samples")
    )
    return wav_roundtrip_map_in_pandas(d)


@register(
    "mm_audio_features",
    oracle="""
    WITH p AS (SELECT doc_id, n_chars * 10 AS n, 16 + doc_id % 17 AS per
               FROM documents WHERE n_chars > 0),
    v AS (SELECT doc_id, n, per, unnest(generate_series(0, n - 1)) AS i FROM p),
    s AS (SELECT doc_id, n, i,
                 ((i % per) * 65536 // per) - 32768 AS smp
          FROM v),
    w AS (SELECT doc_id, n, smp,
                 lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
          FROM s)
    SELECT doc_id,
           CAST(max(n) AS BIGINT)            AS n_samples,
           CAST(max(abs(smp)) AS BIGINT)     AS peak_abs,
           CAST(sum(smp * smp) AS BIGINT)    AS energy,
           CAST(sum(CASE WHEN prev IS NOT NULL
                          AND (CASE WHEN smp >= 0 THEN 1 ELSE -1 END)
                           <> (CASE WHEN prev >= 0 THEN 1 ELSE -1 END)
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM w GROUP BY doc_id
    """,
    tags=("north_star", "multimodal", "udf"),
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over DECODED samples — the step after
    mm_decode_wav a curation pipeline actually needs (energy/silence
    gates, clipping detection): each doc synthesizes a sawtooth-PCM WAV
    (operators/multimodal.py::synth_wav_tone), the BYTES are parsed back
    to int16 samples, and peak |s|, exact Σ s² energy, and
    zero-crossing counts are computed with vectorized numpy over Arrow
    batches, executor-side. All-integer features, so the oracle
    re-derives them in closed form from the same sample formula — the
    compare proves encode → byte-walk → PCM decode → feature math end
    to end. Scale shape: scan-side mapInPandas, no shuffle; at 100 TB
    media bytes never leave the task (only the 4-number feature row
    does), the rule SCALE.md's multimodal section sets."""
    from etl_cnpjs_spark.operators.multimodal import audio_features_map_in_pandas

    d = (
        table(spark, sf_dir, "documents", parallel=True)
        .select("doc_id", (F.col("n_chars") * 10).alias("n_samples"))
        .filter(F.col("n_samples") > 0)
    )
    return audio_features_map_in_pandas(d)


@register(
    "mm_resize",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(16 + doc_id % 17 AS INT) AS width,
             CAST(16 + doc_id % 13 AS INT) AS height
      FROM documents
    ),
    grid AS (
      SELECT d.doc_id, d.width, d.height, gy.y, gx.x,
             (d.doc_id * 31
              + ((gy.y * d.height) // 8) * d.width
              + ((gx.x * d.width) // 8)) % 256 AS px
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) gy
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) gx
    )
    SELECT doc_id,
           CAST(max(width) AS INT)                 AS width,
           CAST(max(height) AS INT)                AS height,
           CAST(sum(px) AS BIGINT)                 AS thumb_sum,
           CAST(sum(px * (1 + x + 8 * y)) AS BIGINT) AS thumb_hash
    FROM grid GROUP BY doc_id
    """,
    tags=("north_star", "multimodal", "udf"),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize/thumbnail — the remaining member of the multimodal
    set (decode / feature-extract / frame-sample / RESIZE): decode each
    image (deterministic stub — the codec seam is
    operators/multimodal.py::decode_media) and nearest-neighbor resize
    it to an 8×8 thumbnail with REAL numpy gather indexing, the exact
    access pattern a PIL/cv2 NN resize performs, executor-side over
    Arrow batches. Output features (pixel sum + position-weighted hash)
    are all-integer, so the oracle re-derives them in closed form from
    the stub pixel formula — the compare proves decode → source-coord
    mapping floor(t·dim/8) → gather → feature math end to end. Scale
    shape: scan-side mapInPandas after any frame/partition pruning;
    image bytes never enter a shuffle."""
    from etl_cnpjs_spark.operators.multimodal import resize_thumb_map_in_pandas

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (16 + F.col("doc_id") % 17).cast("int").alias("width"),
        (16 + F.col("doc_id") % 13).cast("int").alias("height"),
    )
    return resize_thumb_map_in_pandas(d)


@register(
    "mm_decode_bmp",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS INT) AS width,
             CAST(8 + doc_id % 7 AS INT) AS height
      FROM documents
    ),
    grid AS (
      SELECT d.doc_id, d.width, d.height, gy.y, gx.x,
             (gx.x + 3 * gy.y + d.doc_id) % 256     AS b,
             (2 * gx.x + gy.y + d.doc_id) % 256     AS g,
             (gx.x + gy.y + 3 * d.doc_id) % 256     AS r
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) gx
      CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS y) gy
      WHERE gx.x < d.width AND gy.y < d.height
    )
    SELECT doc_id,
           CAST(max(width) AS INT)  AS width,
           CAST(max(height) AS INT) AS height,
           CAST(24 AS INT)          AS bpp,
           CAST(sum(b + g + r) AS BIGINT) AS pixel_sum,
           CAST(sum((b + 2 * g + 3 * r) * (1 + x + width * y)) AS BIGINT)
             AS px_hash
    FROM grid GROUP BY doc_id
    """,
    tags=("north_star", "multimodal", "udf", "image"),
)
def mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode — the image twin of mm_decode_wav, upgrading
    the image half of the codec seam from stub to genuine bytes: each
    doc synthesizes a VALID 24-bit uncompressed BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER, bottom-up rows, 4-byte padding — a real container,
    pure struct/numpy, no codec library), then PARSES those bytes back
    executor-side and reduces the decoded pixel array to integer
    features. The position- and channel-weighted px_hash is exact only
    if the decoder honors BGR order, skips row padding, and un-flips
    bottom-up storage — the three details that distinguish decoding
    from pattern-replay. decode_media (operators/multimodal.py) remains
    the seam for codec-backed formats (JPEG/PNG need PIL, absent here —
    re-checked this round).

    Scale shape: mapInPandas over Arrow batches, scan-side; image bytes
    are born and die inside the task — only the 6-number feature row
    crosses to the JVM, nothing binary ever shuffles (SCALE.md
    multimodal rule). The oracle re-derives every feature in closed
    form from the pixel pattern, fully independent of the bytes."""
    from etl_cnpjs_spark.operators.multimodal import bmp_features_map_in_pandas

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (8 + F.col("doc_id") % 9).cast("int").alias("width"),
        (8 + F.col("doc_id") % 7).cast("int").alias("height"),
    )
    return bmp_features_map_in_pandas(d)


@register(
    "mm_image_dedup",
    oracle="""
    WITH grp AS (
      SELECT doc_id % 64 AS seed,
             CAST(count(*) AS BIGINT) AS n_dups,
             CAST(min(doc_id) AS BIGINT) AS canonical_id
      FROM documents GROUP BY 1),
    dims AS (
      SELECT seed,
             CAST(8 + seed % 9 AS INT) AS width,
             CAST(8 + seed % 7 AS INT) AS height
      FROM grp
    ),
    grid AS (
      SELECT d.seed, d.width, d.height, gy.y, gx.x,
             (gx.x + 3 * gy.y + d.seed) % 256     AS b,
             (2 * gx.x + gy.y + d.seed) % 256     AS g,
             (gx.x + gy.y + 3 * d.seed) % 256     AS r
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) gx
      CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS y) gy
      WHERE gx.x < d.width AND gy.y < d.height
    ),
    feat AS (
      SELECT seed,
             CAST(max(width) AS INT)  AS width,
             CAST(max(height) AS INT) AS height,
             CAST(sum(b + g + r) AS BIGINT) AS pixel_sum,
             CAST(sum((b + 2 * g + 3 * r) * (1 + x + width * y)) AS BIGINT)
               AS px_hash
      FROM grid GROUP BY seed)
    SELECT f.width, f.height, f.pixel_sum, f.px_hash,
           g.n_dups, g.canonical_id
    FROM feat f JOIN grp g ON f.seed = g.seed
    WHERE g.n_dups >= 2
    """,
    tags=("north_star", "multimodal", "dedup", "image"),
)
def mm_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact image dedup over DECODED bytes — the multimodal↔dedup
    bridge: every doc synthesizes its image (seed = doc_id % 64, so the
    corpus genuinely contains ~n/64-way duplicate groups, the CommonCrawl
    reality), the executor PARSES the real BMP bytes back, and the dedup
    key is md5 of the decoded pixel array — content-addressed identity,
    byte-order/padding/flip included, exactly what a CAS-backed ingest
    dedups on. Groups of ≥2 report size and the min-doc_id canonical.

    The oracle never sees a byte: it re-derives each group's features in
    closed form from the pixel pattern and each group's membership from
    the seed arithmetic — so a hash-green row proves the decode+md5+
    groupBy pipeline found EXACTLY the true duplicate sets (the md5
    grouping and the analytic grouping must coincide group-for-group).

    Scale story: the shuffle key is a 16-byte digest + 4 ints per IMAGE
    (never pixels — SCALE.md multimodal rule); dedup_exact's digest-
    groupBy discipline applied to binary media. Perceptual (near-dup)
    hashing drops into the same shape by swapping md5 for an
    average-hash band key, LSH-style (documented seam; the exact path
    is the verified one)."""
    from etl_cnpjs_spark.operators.multimodal import bmp_fingerprint_map_in_pandas

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (F.col("doc_id") % 64).alias("seed"),
        (8 + (F.col("doc_id") % 64) % 9).cast("int").alias("width"),
        (8 + (F.col("doc_id") % 64) % 7).cast("int").alias("height"),
    )
    fp = bmp_fingerprint_map_in_pandas(d)
    return (
        fp.groupBy("px_md5")
        .agg(
            F.any_value("width").alias("width"),
            F.any_value("height").alias("height"),
            F.any_value("pixel_sum").alias("pixel_sum"),
            F.any_value("px_hash").alias("px_hash"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
        )
        .filter(F.col("n_dups") >= 2)
        .drop("px_md5")
    )


# --- mm_audio_vad -------------------------------------------------------------
#
# Voice-activity detection over DECODED PCM: the gated sawtooth
# (operators/multimodal.py::synth_wav_gated — alternating 400-sample
# voice/silence blocks) is synthesized, parsed BACK from container
# bytes, framed (80 samples), energy-gated, and run-length segmented —
# the real curation step that routes only voiced spans to downstream
# transcription. The oracle re-derives frame/segment counts in closed
# form from the gating arithmetic (block = 5 exact frames), so the
# compare proves encode → byte-walk → PCM decode → frame → segment end
# to end. Verified against the numpy path for the full edge grid in
# tests (partial tails, sub-block docs).


@register(
    "mm_audio_vad",
    oracle="""
    WITH p AS (SELECT doc_id, n_chars * 10 AS n FROM documents WHERE n_chars > 0),
    d AS (SELECT doc_id, n // 80 AS frames FROM p),
    b AS (SELECT doc_id, frames, frames // 5 AS nb, frames % 5 AS r FROM d)
    SELECT doc_id,
           CAST(frames AS BIGINT) AS n_frames,
           CAST(5 * ((nb + 1) // 2)
                + CASE WHEN nb % 2 = 0 THEN r ELSE 0 END AS BIGINT) AS n_active,
           CAST((nb + 1) // 2
                + CASE WHEN r > 0 AND nb % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_segments,
           CAST(CASE WHEN nb >= 1 THEN 5 ELSE r END AS BIGINT) AS longest_seg
    FROM b
    """,
    tags=("north_star", "multimodal", "udf"),
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-energy VAD segmentation over decoded WAV bytes. Scale
    shape: scan-side mapInPandas, zero shuffle; bytes are born and die
    inside the task, only the 5-integer segment summary crosses out —
    the SCALE.md multimodal rule."""
    from etl_cnpjs_spark.operators.multimodal import vad_segments_map_in_pandas

    d = (
        table(spark, sf_dir, "documents", parallel=True)
        .select("doc_id", (F.col("n_chars") * 10).alias("n_samples"))
        .filter(F.col("n_samples") > 0)
    )
    return vad_segments_map_in_pandas(d)


# --- mm_image_phash ---------------------------------------------------------


@register(
    "mm_image_phash",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 64 AS seed,
             CAST(8 + (doc_id % 64) % 9 AS INT) AS width,
             CAST(8 + (doc_id % 64) % 7 AS INT) AS height
      FROM documents),
    grid AS (
      SELECT d.doc_id, d.width, d.height, gy.y, gx.x,
             ((gx.x + 3 * gy.y + d.seed) % 256
              + (2 * gx.x + gy.y + d.seed) % 256
              + (gx.x + gy.y + 3 * d.seed) % 256) AS s
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) gx
      CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS y) gy),
    tot AS (
      SELECT doc_id, SUM(s) AS sum_s FROM grid GROUP BY doc_id),
    hashes AS (
      SELECT g.doc_id, g.width, g.height,
             COALESCE(SUM(CASE WHEN g.s * 56 > t.sum_s
                               THEN (CAST(1 AS BIGINT) << (g.y * 8 + g.x))
                               ELSE 0 END), 0) AS phash
      FROM grid g JOIN tot t ON g.doc_id = t.doc_id
      GROUP BY g.doc_id, g.width, g.height)
    SELECT width, height, CAST(phash AS BIGINT) AS phash,
           CAST(COUNT(*) AS BIGINT) AS n_imgs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM hashes GROUP BY width, height, phash
    """,
    tags=("north_star", "multimodal", "dedup", "phash"),
)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (average-hash) image grouping over DECODED bytes — the
    near-dup seam mm_image_dedup documents, made real: every image's
    8×7 aHash is computed from the PARSED pixel array executor-side
    (operators/multimodal.py::bmp_ahash_map_in_pandas — strict-majority
    bit per pixel vs the region mean, integer-exact), then images group
    by (dimensions, hash) — the banding step of a perceptual-LSH
    near-dup pipeline (hamming-ball banding drops in by splitting the
    56 bits into bands, dedup_simhash's pigeonhole layout). aHash is
    BRIGHTNESS-INVARIANT by construction (bit = above/below the image's
    own mean), and this corpus proves it: the seed-0 and seed-63 image
    families have different BYTES (md5-distinct in mm_image_dedup) but
    identical dims+aHash, so perceptual grouping merges them — a
    near-dup catch exact dedup cannot make, visible as one fewer group
    than the md5 grouping. The oracle re-derives every BIT analytically
    from the generator pattern without touching bytes, so a green hash
    proves decode → aHash → groupBy end to end. Scale: the shuffle
    carries (doc_id, 2 ints, one int64) per image.

    SHARED-SPEC BLIND SPOT (r6 ADVICE item 5): oracle and plan both
    derive from the same synthetic-generator formula, so a SPEC-level
    mistake (e.g. this implementation's strictly-greater-than-mean tie
    convention, which differs from the classic >= aHash recipe) would
    pass both sides unnoticed. The independent, fixture-based pin that
    anchors behavior from OUTSIDE the generator is
    tests/test_queries.py::test_phash_merges_byte_distinct_near_dups
    (hand-built BMP bytes, hand-derived expected bits); the same caveat
    and mitigation applies to the BMP channel/tile stat keys
    (mm_image_channel_stats, mm_image_tiles)."""
    from etl_cnpjs_spark.operators.multimodal import bmp_ahash_map_in_pandas

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (F.col("doc_id") % 64).alias("seed"),
        (8 + (F.col("doc_id") % 64) % 9).cast("int").alias("width"),
        (8 + (F.col("doc_id") % 64) % 7).cast("int").alias("height"),
    )
    h = bmp_ahash_map_in_pandas(d)
    return h.groupBy("width", "height", "phash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_imgs"),
        F.min("doc_id").cast("bigint").alias("canonical_id"),
    )


# --- mm_image_channel_stats -------------------------------------------------
#
# Per-channel pixel statistics from DECODED image bytes — the
# normalization profile (per-channel sum/min/max) a vision pipeline
# computes before mean/std scaling, and a sharper decode check than
# the summed features: swapping any two channels changes per-channel
# sums while leaving pixel_sum invariant, so BGR ordering is pinned in
# isolation. Same real-codec posture as mm_decode_bmp (synthesize a
# valid 24-bit BMP, parse it back executor-side); the oracle
# re-derives every statistic from the closed-form pixel pattern.


_CHANNEL_SQL = """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS INT) AS width,
             CAST(8 + doc_id % 7 AS INT) AS height
      FROM documents
    ),
    grid AS (
      SELECT d.doc_id, d.width, d.height,
             (gx.x + 3 * gy.y + d.doc_id) % 256     AS b,
             (2 * gx.x + gy.y + d.doc_id) % 256     AS g,
             (gx.x + gy.y + 3 * d.doc_id) % 256     AS r
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) gx
      CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS y) gy
      WHERE gx.x < d.width AND gy.y < d.height
    )
    SELECT doc_id,
           CAST(max(width) AS INT)  AS width,
           CAST(max(height) AS INT) AS height,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(min(b) AS INT) AS min_b, CAST(max(b) AS INT) AS max_b,
           CAST(min(g) AS INT) AS min_g, CAST(max(g) AS INT) AS max_g,
           CAST(min(r) AS INT) AS min_r, CAST(max(r) AS INT) AS max_r
    FROM grid GROUP BY doc_id
    """


@register(
    "mm_image_channel_stats",
    oracle=_CHANNEL_SQL,
    tags=("north_star", "multimodal", "udf", "image"),
)
def mm_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel (B/G/R) sum/min/max from decoded BMP pixel arrays.

    Scale shape: Arrow-batched mapInPandas, vectorized numpy per
    image; bytes never leave the task — only 12 integers per image
    cross to the JVM, nothing binary shuffles (SCALE.md multimodal
    rule). The oracle grid re-derives the statistics analytically
    without touching bytes — which also means oracle and plan SHARE the
    generator spec (r6 ADVICE item 5): a spec-level mistake would pass
    both sides. The outside-the-generator anchor is the hand-built BMP
    fixture test noted in mm_image_phash's docstring."""
    from etl_cnpjs_spark.operators.multimodal import (
        bmp_channel_stats_map_in_pandas,
    )

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (8 + F.col("doc_id") % 9).cast("int").alias("width"),
        (8 + F.col("doc_id") % 7).cast("int").alias("height"),
    )
    return bmp_channel_stats_map_in_pandas(d)


# --- mm_cas_chunks ----------------------------------------------------------
#
# Content-addressed chunk store (CAS): split each document's bytes
# into fixed 64-byte chunks, address each by md5, and report the
# corpus-wide shared chunks (refcount ≥ 2, top by refcount) — the
# storage-dedup primitive under every blob store / artifact cache.
# Fixed-size chunking keeps both engines' chunk boundaries trivially
# identical (content-defined chunking is the production upgrade —
# documented, same plan shape).

_CAS_CHUNK = 64
_CAS_TOPK = 50


_CAS_SQL = f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(text) > 0),
    ch AS (
      SELECT doc_id,
             md5(substr(text, CAST((i.g - 1) * {_CAS_CHUNK} + 1 AS INT),
                        {_CAS_CHUNK})) AS chunk_md5
      FROM d, (SELECT unnest(generate_series(1, 100)) AS g) i
      WHERE (i.g - 1) * {_CAS_CHUNK} < length(text)),
    rc AS (
      SELECT chunk_md5, CAST(count(*) AS BIGINT) AS refcount
      FROM ch GROUP BY 1 HAVING count(*) >= 2),
    r AS (
      SELECT chunk_md5, refcount,
             row_number() OVER (ORDER BY refcount DESC, chunk_md5) AS rk
      FROM rc)
    SELECT CAST(rk AS BIGINT) AS rk, chunk_md5, refcount
    FROM r WHERE rk <= {_CAS_TOPK}
    """


@register("mm_cas_chunks", oracle=_CAS_SQL, tags=("multimodal", "dedup", "sink"))
def mm_cas_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} shared content-addressed chunks (md5, refcount).

    Shapes: the chunk explode emits (doc, hash) rows — bytes never
    shuffle, only 32-hex digests; one hash(chunk) refcount aggregate
    with map-side combine; TakeOrdered cut. At 100 TB this is the
    dedup planning pass of a CAS ingest: refcounted chunks skip
    upload, the ratio prices the store."""
    from pyspark.sql.window import Window as W

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text")
    )
    ch = d.select(
        "doc_id",
        F.expr(
            f"explode(sequence(1, least(cast(ceil(length(text) / {_CAS_CHUNK}.0) "
            f"as int), 100)))"
        ).alias("g"),
        "text",
    ).select(
        F.md5(
            F.expr(f"substr(text, ((g - 1) * {_CAS_CHUNK}) + 1, {_CAS_CHUNK})")
        ).alias("chunk_md5")
    )
    rc = (
        ch.groupBy("chunk_md5")
        .agg(F.count(F.lit(1)).cast("bigint").alias("refcount"))
        .filter(F.col("refcount") >= 2)
    )
    r = rc.orderBy(F.desc("refcount"), F.asc("chunk_md5")).limit(_CAS_TOPK)
    return r.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy().orderBy(F.desc("refcount"), F.asc("chunk_md5"))
        ),
    ).select(F.col("rk").cast("bigint").alias("rk"), "chunk_md5", "refcount")


# --- mm_image_tiles ---------------------------------------------------------
#
# ViT patch plumbing: decode each synthetic BMP and reduce a 2×2 tile
# grid to per-tile channel sums — image → grid-of-patches → per-patch
# features, the preprocessing layout under every patch-based vision
# model. Tile membership is integer math (tx = 2x DIV w), so the
# oracle re-derives every tile analytically from the closed-form
# pixel pattern (same posture as mm_image_channel_stats; cites the
# real stdlib codec in operators/multimodal.py).


_TILES_SQL = """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS INT) AS width,
             CAST(8 + doc_id % 7 AS INT) AS height
      FROM documents
    ),
    grid AS (
      SELECT d.doc_id,
             CAST((gx.x * 2) // d.width AS INT)  AS tx,
             CAST((gy.y * 2) // d.height AS INT) AS ty,
             (gx.x + 3 * gy.y + d.doc_id) % 256  AS b,
             (2 * gx.x + gy.y + d.doc_id) % 256  AS g,
             (gx.x + gy.y + 3 * d.doc_id) % 256  AS r
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) gx
      CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS y) gy
      WHERE gx.x < d.width AND gy.y < d.height
    )
    SELECT doc_id, tx, ty,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(r) AS BIGINT) AS sum_r
    FROM grid GROUP BY 1, 2, 3
    """


@register(
    "mm_image_tiles",
    oracle=_TILES_SQL,
    tags=("multimodal", "udf", "image", "north_star"),
)
def mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile (2×2 grid) channel sums from decoded BMP pixels.

    Scale shape: Arrow-batched mapInPandas; bytes never leave the
    task — 4 rows × 7 ints per image cross to the JVM. A production
    ViT pipeline swaps the stats reduction for a flattened patch
    tensor with the SAME partitioning and batch shape (documented
    seam — the tensor columns would be fixed-length arrays). Oracle
    and plan share the generator spec (r6 ADVICE item 5) — see
    mm_image_phash's blind-spot note for the independent fixture
    anchor."""
    from etl_cnpjs_spark.operators.multimodal import (
        bmp_tile_stats_map_in_pandas,
    )

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (8 + F.col("doc_id") % 9).cast("int").alias("width"),
        (8 + F.col("doc_id") % 7).cast("int").alias("height"),
    )
    return bmp_tile_stats_map_in_pandas(d)
