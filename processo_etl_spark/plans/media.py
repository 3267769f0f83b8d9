"""Media near-duplicate queries.

Extension surface beyond the reference (its data is tabular CSV;
multimodal training corpora need content-level near-dup detection for
images and audio, not just key-level dedup).  The image twin
(``multimodal_phash_dedup``) registers in plans/mlops next to the other
multimodal heads.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from processo_etl_spark.plans import register


@register(
    "multimodal_resize",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 63)) AS id),
         rows_ AS (SELECT unnest(generate_series(0, 7)) AS r),
         cols_ AS (SELECT unnest(generate_series(0, 7)) AS c)
    SELECT CAST(id AS BIGINT) AS media_id,
      CAST(r AS INTEGER) AS r, CAST(c AS INTEGER) AS c,
      CAST((
          (id * 29 + ((2 * r) * 16 + 2 * c) * 5) % 256
        + (id * 29 + ((2 * r) * 16 + 2 * c + 1) * 5) % 256
        + (id * 29 + ((2 * r + 1) * 16 + 2 * c) * 5) % 256
        + (id * 29 + ((2 * r + 1) * 16 + 2 * c + 1) * 5) % 256) // 4
        AS INTEGER) AS v
    FROM ids CROSS JOIN rows_ CROSS JOIN cols_
    """,
)
def multimodal_resize(spark, sf_dir):
    """Standalone image RESIZE stage, hash-graded pixel-for-pixel: 64
    deterministic 16×16 PNGs (px = (id·29 + k·5) mod 256, k = r·16+c)
    are decoded by the vendored codec, box-resized to 8×8 with FLOOR
    division (ml/multimodal.resize_images — exact integer pixels, no
    float rounding ambiguity), re-encoded, decoded AGAIN, and dumped
    one row per pixel (``decode_pixels``).  The oracle states every
    output pixel as the integer mean of its 2×2 source block, so the
    decode→resize→re-encode→decode loop is graded end-to-end on 4096
    exact scalars — a boundary slip, a floor/round swap, or a filter
    bug in the second encode each breaks the hash.  Scale shape: two
    Arrow map stages (synthesize+resize, pixel dump), zero shuffles;
    at 100 TB this is the thumbnail-normalization map every image
    pipeline runs before feature extraction, and the pixel dump points
    at thumbnails (w×h rows per image), never originals.
    """
    from processo_etl_spark.ml import multimodal, png

    media = multimodal.synth_media(
        spark.range(64),
        lambda mid: png.encode_gray(
            bytes((mid * 29 + k * 5) % 256 for k in range(256)), 16, 16
        ),
        "image/png",
        16,
        16,
    )
    small = multimodal.resize_images(media, 8, 8)
    return multimodal.decode_pixels(small)


@register(
    "multimodal_keyframes",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 63)) AS id),
         fr AS (SELECT unnest(generate_series(0, 15)) AS f),
    d AS (
      SELECT id, f,
        CASE WHEN f = 0 THEN NULL
        ELSE list_sum(list_transform(generate_series(0, 63), j ->
          abs(((id * 53 + (f // 4) * 151 + j * 7 + (f % 4)) % 256)
            - ((id * 53 + ((f - 1) // 4) * 151 + j * 7 + ((f - 1) % 4))
               % 256))))
        END AS de
      FROM ids CROSS JOIN fr)
    SELECT id AS media_id, CAST(f AS INTEGER) AS frame_index,
      CAST(de AS BIGINT) AS diff_energy,
      CASE WHEN f = 0 THEN true ELSE de > 4000 END AS is_key
    FROM d
    """,
)
def multimodal_keyframes(spark, sf_dir):
    """VIDEO scene-change keyframe detection, hash-graded frame-for-
    frame: 64 deterministic "videos" (16 frames × 64 bytes; scene
    changes every 4 frames — byte(f, j) = (id·53 + (f//4)·151 + j·7 +
    f%4) mod 256) run through ``ml/multimodal.keyframe_detect``: exact
    integer frame-difference energy against the previous frame,
    keyframe iff first-frame or energy > 4000.  The corpus separates by
    construction (within-scene energy ≤ 318, scene boundaries ≥ 7752 —
    prototype-measured), and the oracle re-derives every energy from
    the closed form, so the byte decode, the frame framing, the |Δ|
    fold and the threshold are each graded on 1024 scalars.  Scale
    shape: one Arrow map stage, zero shuffles; at 100 TB this replaces
    the fixed-stride ``frame_sample`` fan-out with content-adaptive
    sampling, cutting decoded-frame volume to ~one per scene before
    the (expensive) per-frame decode stage.
    """
    from processo_etl_spark.ml import multimodal

    media = multimodal.synth_media(
        spark.range(64),
        lambda vid: bytes(
            (vid * 53 + (f // 4) * 151 + j * 7 + (f % 4)) % 256
            for f in range(16)
            for j in range(64)
        ),
        "video/raw",
    )
    return multimodal.keyframe_detect(media, frame_bytes=64, threshold=4000)


@register(
    "multimodal_audio_dedup",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 95)) AS id),
    ssq AS (
      SELECT id,
        list_transform(generate_series(0, 56), f ->
          list_sum(list_transform(
            list_transform(generate_series(0, 31), j ->
              CAST(((id // 3) * 1103
                + (f * 32 + j) * (f * 32 + j) * (7 + (id // 3) % 11)
                + (f * 32 + j) * 31
                + (CASE WHEN (f * 32 + j) % 13 = 0
                        THEN (id % 3) * 800 ELSE 0 END)) % 65536 - 32768
                AS BIGINT)),
            s -> s * s))) AS e
      FROM ids),
    sigs AS (
      SELECT id,
        COALESCE(list_sum(list_transform(generate_series(0, 55), i ->
          CASE WHEN e[i + 2] > e[i + 1]
               THEN CAST(1 AS BIGINT) << i
               ELSE CAST(0 AS BIGINT) END)), 0) AS sig
      FROM ssq)
    SELECT a.id AS id_a, b.id AS id_b,
      CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= 5
    """,
)
def multimodal_audio_dedup(spark, sf_dir):
    """AUDIO near-duplicate detection, hash-graded end-to-end — the
    acoustic twin of ``multimodal_phash_dedup``: a real PCM16LE
    near-dup corpus (32 base clips × 3 perturbed variants,
    ml/multimodal.synthesize_pcm_variants) is decoded by genuine byte
    interpretation (``np.frombuffer``), fingerprinted by exact-integer
    frame-energy deltas (``audio_fingerprint`` — 56 bits, the
    Haitsma–Kalker shape), and paired by the shared exact-recall
    pigeonhole banding (``ml/dedup.banded_hamming_pairs``, 6 bands for
    Hamming ≤ 5).  The sample stream is closed-form and the signature
    math all-integer, so the oracle re-derives every frame energy and
    brute-forces all pairs in SQL — the decode, the framing, the bit
    order, and the banding recall are each hash-graded.  By
    construction the corpus separates (within-group Hamming ≤ 4,
    cross-group ≥ 11), so the output is exactly the 96 true variant
    pairs.  Scale shape: decode+fingerprint is one Arrow map stage;
    candidates come from the banded equi-join — never all-pairs; at
    100 TB compose with a coarse pre-key (duration bucket, sample
    rate) exactly like the text and image paths.
    """
    from processo_etl_spark.ml import dedup, multimodal

    media = multimodal.synthesize_pcm_variants(spark, n_groups=32, variants=3)
    sig = (
        multimodal.audio_fingerprint(media)
        .select(F.col("media_id").alias("doc"), F.col("afp").alias("sig"))
        .persist()
    )
    return dedup.banded_hamming_pairs(sig, sig_bits=56, max_hamming=5)


@register(
    "multimodal_audio_silence",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 95)) AS id),
         fr AS (SELECT unnest(generate_series(0, 31)) AS f),
    en AS (
      SELECT id, f,
        list_sum(list_transform(generate_series(0, 31), j ->
          abs(CASE WHEN f >= id % 7 AND f < 32 - id % 5
              THEN (id * 31 + (f * 32 + j) * 17) % 4096 + 512
              ELSE (f * 32 + j) % 3 END))) AS e
      FROM ids CROSS JOIN fr),
    v AS (SELECT id, f FROM en WHERE e > 1000)
    SELECT CAST(id AS BIGINT) AS media_id,
      CAST(count(*) AS INTEGER) AS n_frames_voiced,
      CAST(min(f) * 32 AS BIGINT) AS trim_start_samples,
      CAST((max(f) - min(f) + 1) * 32 AS BIGINT) AS kept_samples
    FROM v GROUP BY id
    """,
)
def multimodal_audio_silence(spark, sf_dir):
    """Energy-gated silence trimming (VAD-lite), hash-graded span-for-
    span: 96 deterministic PCM16LE clips with ``id%7`` leading and
    ``id%5`` trailing silent frames (amplitude ≤ 2 noise, never exact
    zero) around a closed-form voiced region are decoded by genuine
    byte interpretation and framed; per-frame energy is the exact
    integer Σ|s|; a frame is voiced iff energy > 1000 (noise frames
    ≤ 64, voiced frames ≥ 16384 — separated by construction), and the
    graded output is the voiced span (first-voiced offset, kept sample
    count, voiced-frame count).  The oracle re-derives every frame
    energy from the sample formula, so the PCM decode, the framing,
    the |s| fold, and the threshold gate are each graded on 96 spans.
    Scale shape: one Arrow map stage, zero shuffles — the speech-corpus
    preprocessing pass that makes downstream cost track speech seconds,
    not recording seconds.
    """
    from processo_etl_spark.ml import multimodal

    media = multimodal.synthesize_pcm_padded(spark, n=96)
    return multimodal.audio_silence_trim(media)


@register(
    "multimodal_png_meta",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 63)) AS id),
         ks AS (SELECT unnest(['lang', 'title']) AS key)
    SELECT CAST(id AS BIGINT) AS media_id,
      CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
      key,
      CASE WHEN key = 'title' THEN 'doc-' || CAST(id AS VARCHAR)
           ELSE (['en', 'pt', 'es'])[id % 3 + 1] END AS value
    FROM ids CROSS JOIN ks
    """,
)
def multimodal_png_meta(spark, sf_dir):
    """PNG tEXt metadata extraction, hash-graded pair-for-pair: 64
    deterministic 8×8 grayscale PNGs are ENCODED with two standard
    ``tEXt`` chunks each (title=doc-<id>, lang∈{en,pt,es} — written
    between IHDR and IDAT in sorted-key order by the vendored codec),
    then ``ml/multimodal.png_text_metadata`` walks the chunk stream
    CRC-verified and emits one row per (keyword, value) pair plus the
    IHDR dimensions.  The oracle states every pair closed-form, so the
    chunk framing, the latin-1 keyword\\0value split, the CRC check,
    and the IHDR parse are each graded on 128 rows — the EXIF-role
    step that turns an opaque binary column into queryable metadata.
    Scale shape: one Arrow map stage, zero shuffles.
    """
    from processo_etl_spark.ml import multimodal, png

    langs = ("en", "pt", "es")

    def make(mid: int) -> bytes:
        px = bytes((mid * 37 + k * 11) % 256 for k in range(64))
        return png.encode_gray(
            px, 8, 8, text={"title": f"doc-{mid}", "lang": langs[mid % 3]}
        )

    media = multimodal.synth_media(spark.range(64), make, "image/png", 8, 8)
    return multimodal.png_text_metadata(media)
