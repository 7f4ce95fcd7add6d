"""Registry entries for the multimodal plumbing. Every codec query runs
one rung of blobs.RUNGS through blobs.run_rung — ONE fused
mapInPandas that generates a REAL media file from each document's
text, encodes it, decodes it back from the bytes alone and summarizes
the decode; the oracle predicts the decoded metadata from the
generation rule over the text bytes, so a decoder that misreports
anything — dimensions, channels, pixel content — hash-fails the
gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .blobs import RUNGS, audio_window_features, run_rung, sample_frames
from .jpeg import JPEG_TOL  # noqa: F401 — resolved in docstrings


@query(
    "multimodal_image_meta",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             1 + ascii(substr(text, 1, 1)) % 8 AS width,
             1 + ascii(substr(text, length(text), 1)) % 8 AS height,
             CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 3 ELSE 1 END
               AS channels
      FROM documents),
    px AS (
      SELECT doc_id, width, height, channels,
             CASE WHEN n = 0 THEN 0
                  ELSE ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) END AS b
      FROM params,
           UNNEST(range(0, CAST(width AS BIGINT) * height * channels)) AS r(i))
    SELECT doc_id, width, height, channels,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(SUM(b) AS BIGINT) AS pixel_sum
    FROM px
    GROUP BY doc_id, width, height, channels
    """,
)
def multimodal_image_meta(spark, sf_dir):
    """REAL image decode through Arrow-batched mapInPandas: documents
    become standards-compliant PNG blobs (dims/pixels derived from the
    text bytes), then a full stdlib decode — signature + CRC checks,
    IHDR parse, IDAT inflate, scanline de-filter — recovers
    (width, height, channels, n_pixels, pixel_sum) from the bytes
    alone. The oracle recomputes what a correct decoder must report
    (ASCII corpus, so byte k of the text is ascii(substr(text, k+1)));
    pixel_sum covers the decoded CONTENT, not just the header."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["png"])
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "n_pixels",
        "pixel_sum",
    )


@query(
    "multimodal_image_decode_filtered",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             16 + ascii(substr(text, 1, 1)) % 17 AS width,
             16 + ascii(substr(text, length(text), 1)) % 17 AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height,
             ((CASE WHEN n = 0 THEN 0
                    ELSE ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) END)
                + (r.i // 7) * 13) % 256 AS v
      FROM params,
           UNNEST(range(0, CAST(width AS BIGINT) * height * 3)) AS r(i))
    SELECT doc_id, width, height, 3 AS channels,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS pixel_sum
    FROM px
    GROUP BY doc_id, width, height
    """,
)
def multimodal_image_decode_filtered(spark, sf_dir):
    """The compressed-PNG ladder step (VERDICT r8 #6): 16..32 px per
    side (up to 3072 pixel bytes/doc, ~32x the small geometry) with
    FILTER-2 (Up) scanlines — each row is stored as its delta vs the
    row above before deflate, the shape real encoders emit. The
    decoder must CRC-walk, inflate, and reverse the filter on every
    scanline (png_decode now de-filters all five spec types) before
    its reported pixel_sum can match the oracle's per-pixel recompute
    — a filter-ignoring reader fails the content hash outright. Same
    Arrow-batched fused mapInPandas plumbing (map-only plan) as
    multimodal_image_meta; pixel rule: px[i] = (byte[i mod n] +
    (i // 7) * 13) mod 256."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["png_filtered"])
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "n_pixels",
        "pixel_sum",
    )


@query(
    "multimodal_image_decode_adam7",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             16 + ascii(substr(text, 1, 1)) % 17 AS width,
             16 + ascii(substr(text, length(text), 1)) % 17 AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height, r.i,
             ((CASE WHEN n = 0 THEN 0
                    ELSE ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) END)
                + (r.i // 5) * 11) % 256 AS v
      FROM params,
           UNNEST(range(0, CAST(width AS BIGINT) * height * 3)) AS r(i))
    SELECT doc_id, width, height, 3 AS channels,
           CAST(width AS BIGINT) * height AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS pixel_sum,
           CAST(SUM((r_mod + 1) * v) AS BIGINT) AS pos_weighted_sum
    FROM (SELECT *, i % 9973 AS r_mod FROM px)
    GROUP BY doc_id, width, height
    """,
)
def multimodal_image_decode_adam7(spark, sf_dir):
    """The INTERLACED-PNG ladder rung (VERDICT r9 #6): same 16..32 px
    filtered geometry, but the pixels are split into the seven Adam7
    passes, each pass Up-filtered as an independent sub-image, all
    passes in one deflate stream (IHDR interlace=1 — the remaining
    real-world structural variant after r9's full de-filter ladder).
    The decoder must CRC-walk, inflate, slice the stream by the pass
    grid's per-pass geometry, de-filter each pass with a zero first
    "above" row, and SCATTER each pass onto the right raster cells.
    pixel_sum alone is permutation-invariant, so the oracle also
    recomputes pos_weighted_sum = sum((i % 9973 + 1) * px[i]) in
    raster order — a decoder that de-filters correctly but misplaces
    a pass fails the hash. Same Arrow-batched fused mapInPandas
    plumbing (map-only plan + one deliberate round-robin Exchange) as
    the filtered rung; pixel rule: px[i] = (byte[i mod n] +
    (i // 5) * 11) mod 256."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["png_adam7"])
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "n_pixels",
        "pixel_sum",
        "pos_weighted_sum",
    )


@query(
    "multimodal_jpeg_roundtrip",
    oracle="""
    SELECT doc_id,
           16 + ascii(substr(text, 1, 1)) % 17 AS width,
           16 + ascii(substr(text, length(text), 1)) % 17 AS height,
           3 AS channels,
           CAST(16 + ascii(substr(text, 1, 1)) % 17 AS BIGINT)
             * (16 + ascii(substr(text, length(text), 1)) % 17) AS n_pixels,
           TRUE AS within_tolerance
    FROM documents
    """,
)
def multimodal_jpeg_roundtrip(spark, sf_dir):
    """The ENTROPY-CODED rung of the codec ladder (narrows the
    long-documented 'compressed-entropy codecs' boundary): REAL
    baseline JPEG — forward DCT, quantization, zigzag, DC prediction,
    run/size AC symbols, the spec's Annex-K Huffman tables, byte
    stuffing, full JFIF marker frame — encoded AND decoded from the
    T.81 spec in pure numpy/stdlib (multimodal/jpeg.py), over the
    ladder's 16..32 px geometry. JPEG is lossy, so the content
    contract is the repo's approx-sketch pattern: geometry columns
    are SQL-recomputed exactly; within_tolerance = (max abs pixel
    error vs the REGENERATED source <= {JPEG_TOL}) and the oracle
    expects TRUE per doc — a Huffman/predictor/block-placement bug
    reds the driver hash. Flat quant table keeps the bound tight
    (measured max err 2); pytest pins the measured ceiling and that
    smooth content genuinely compresses below raw size. Same
    Arrow-batched fused mapInPandas + one deliberate round-robin
    Exchange shape as the other CPU-bound rungs."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["jpeg"])
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        "n_pixels",
        "within_tolerance",
    )


@query(
    "multimodal_gif_decode",
    oracle="""
    WITH params AS (
      SELECT doc_id, text, length(text) AS n,
             16 + ascii(substr(text, 1, 1)) % 17 AS width,
             16 + ascii(substr(text, length(text), 1)) % 17 AS height
      FROM documents),
    px AS (
      SELECT doc_id, width, height, r.i AS i,
             (ascii(substr(text, CAST((r.i // 5) % n AS INT) + 1, 1))
              + r.i // 64) % 256 AS idx
      FROM params,
           UNNEST(range(0, CAST(width AS BIGINT) * height)) AS r(i))
    SELECT doc_id,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(idx) AS BIGINT) AS index_sum,
           CAST(SUM(i * idx) AS BIGINT) AS pos_weighted_sum,
           CAST(SUM(idx + (idx * 7) % 256 + (idx * 13) % 256) AS BIGINT)
             AS rgb_sum
    FROM px GROUP BY 1, 2, 3
    """,
)
def multimodal_gif_decode(spark, sf_dir):
    """The LOSSLESS entropy-coded rung of the codec ladder: REAL GIF89a
    — 256-entry global color table, variable-width LZW (9→12 bits,
    LSB-first packing, CLEAR/EOI, table reset), 255-byte sub-block
    framing — encoded AND decoded from the spec in pure stdlib
    (multimodal/gif.py). Unlike JPEG's tolerance flag, every column
    here is exact: index_sum / pos_weighted_sum re-derive the decoded
    LZW stream byte for byte and rgb_sum maps each index through the
    color table actually read from the file, so a width-bump
    off-by-one, a mispacked bit, or a palette slip is a driver-red
    hash mismatch. pytest additionally pins the spec's exact code
    stream for a known input (round-trip tests alone cannot catch a
    symmetric encoder/decoder bug) and that run-structured content
    genuinely compresses. Same Arrow-batched fused mapInPandas +
    one deliberate round-robin Exchange shape as the other CPU-bound
    rungs; at 100 TB this is a map-only stage — no shuffle, no
    collect, parallelism = input splits."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["gif"])
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "n_px",
        "index_sum",
        "pos_weighted_sum",
        "rgb_sum",
    )


@query(
    "multimodal_adpcm_roundtrip",
    oracle="""
    SELECT doc_id,
           8000 * (1 + ascii(substr(text, 1, 1)) % 3) AS sample_rate,
           CAST(1 + ascii(substr(text, length(text), 1)) % 4 AS INT)
             AS n_blocks,
           CAST((1 + ascii(substr(text, length(text), 1)) % 4) * 505
             AS BIGINT) AS n_samples,
           CAST(8 * (1 + ascii(substr(text, 1, 1)) % 13) - 8192 AS INT)
             AS first_sample,
           TRUE AS within_tolerance
    FROM documents
    """,
)
def multimodal_adpcm_roundtrip(spark, sf_dir):
    """The compressed-AUDIO rung of the codec ladder (narrows the
    'adaptive-entropy A/V codecs' boundary from the audio side): REAL
    IMA ADPCM in WAVE format tag 0x11 — 89-entry step table, 4-bit
    sign+magnitude adaptation, 256-byte blocks whose 4-byte header
    stores the first sample EXACTLY plus the carried step index,
    extended fmt chunk (cbSize=2, wSamplesPerBlock) and the spec's
    fact chunk — encoded AND decoded in pure stdlib
    (multimodal/adpcm.py). ADPCM is lossy-but-deterministic, so the
    contract mixes both ladder patterns: geometry AND the block-header
    first sample are SQL-exact content columns; within_tolerance =
    (max abs sample error vs the REGENERATED triangle source <=
    ADPCM_TOL) and the oracle expects TRUE per doc — a step-table
    slip, nibble-order swap, or clamp bug errs in the thousands and
    reds the driver hash. pytest pins the measured error ceiling and
    the ~3.9:1 real compression. Same Arrow-batched fused
    mapInPandas + round-robin Exchange shape as the other CPU-bound
    rungs; map-only at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["adpcm"])
    return out.select(
        "doc_id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        "n_samples",
        F.col("first_sample").cast("int").alias("first_sample"),
        "within_tolerance",
    )


@query(
    "multimodal_mjpeg_frames",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             16 + ascii(substr(text, 1, 1)) % 5 AS width,
             16 + ascii(substr(text, length(text), 1)) % 5 AS height,
             5 * (1 + length(text) % 4) AS fps,
             2 + (ascii(substr(text, 1, 1))
                  + ascii(substr(text, length(text), 1))) % 3 AS n_frames
      FROM documents)
    SELECT doc_id,
           CAST(r.f AS INT) AS frame_idx,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(n_frames AS INT) AS n_frames,
           CAST(fps AS INT) AS fps,
           TRUE AS within_tolerance
    FROM params, UNNEST(range(0, CAST(n_frames AS BIGINT))) AS r(f)
    """,
)
def multimodal_mjpeg_frames(spark, sf_dir):
    """The compressed-VIDEO rung of the codec ladder (narrows the
    'adaptive-entropy A/V codecs' boundary from the video side): REAL
    Motion-JPEG AVI — the standard MJPEG-in-AVI layout with
    fccHandler/biCompression 'MJPG' and every '00dc' chunk a complete
    baseline JPEG (T.81 entropy coding via multimodal/jpeg.py),
    container-walked AND per-frame entropy-decoded by
    multimodal/blobs.py::mjpeg_avi_decode (raw '00db' frames raise —
    the mirror guard of avi_decode's '00dc' rejection). One output row
    per FRAME with per-frame within_tolerance vs the regenerated
    source (frame f shifts the smooth JPEG content family by f*11, so
    a reordered or dropped frame reds the hash, same discipline as
    multimodal_video_motion); geometry, fps, and frame counts are
    SQL-exact. Same Arrow-batched fused mapInPandas + round-robin
    Exchange shape; map-only at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["mjpeg"])
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_frames").cast("int").alias("n_frames"),
        F.col("fps").cast("int").alias("fps"),
        "within_tolerance",
    )


@query(
    "multimodal_audio_windows",
    oracle="""
    WITH bytes AS (
      SELECT doc_id,
             r.i // 256 AS window_idx,
             ascii(substr(text, CAST(r.i + 1 AS INT), 1)) AS b
      FROM documents, UNNEST(range(0, octet_length(encode(text)))) AS r(i))
    SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
           CAST(CAST(SUM(b) AS STRING) AS DOUBLE) / COUNT(*) AS mean_amplitude,
           MAX(b) AS peak_amplitude
    FROM bytes
    GROUP BY doc_id, window_idx
    """,
)
def multimodal_audio_windows(spark, sf_dir):
    """Audio-style windowed feature extraction (256-byte windows →
    mean/peak 'amplitude') through Arrow-batched mapInPandas — the
    third modality of the binary-column plumbing (the corpus is ASCII,
    so the byte-level oracle mirrors via ascii(substr))."""
    d = load_table(spark, sf_dir, "documents")
    out = audio_window_features(d)
    return out.select(
        "doc_id",
        "window_idx",
        "mean_amplitude",
        F.col("peak_amplitude").cast("long").alias("peak_amplitude"),
    )


@query(
    "multimodal_audio_decode",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             8000 * (1 + ascii(substr(text, 1, 1)) % 3) AS sample_rate,
             1 + octet_length(encode(text)) % 2 AS channels,
             1 + ascii(substr(text, length(text), 1)) % 32 AS n_frames
      FROM documents),
    smp AS (
      SELECT doc_id, sample_rate, channels, n_frames,
             ((CASE WHEN n = 0 THEN 0
                    ELSE ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) END)
                * 131 + r.i * 7919) % 65536 - 32768 AS v
      FROM params,
           UNNEST(range(0, CAST(n_frames AS BIGINT) * channels)) AS r(i))
    SELECT doc_id, sample_rate, channels, 16 AS bit_depth,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(SUM(v) AS BIGINT) AS sample_sum
    FROM smp
    GROUP BY doc_id, sample_rate, channels, n_frames
    """,
)
def multimodal_audio_decode(spark, sf_dir):
    """REAL audio decode through Arrow-batched mapInPandas: documents
    become standards-compliant PCM WAV blobs (rate/channels/frames and
    every int16 sample derived from the text bytes), then a full
    stdlib+numpy decode — RIFF signature + declared-size check,
    word-aligned chunk walk, fmt geometry cross-check, int16 frame
    decode — recovers (sample_rate, channels, bit_depth, n_frames,
    sample_sum) from the bytes alone. The audio sibling of
    multimodal_image_meta's PNG round-trip: the oracle recomputes what
    a correct decoder must report, and sample_sum covers the decoded
    CONTENT (65k+ samples per doc), not just the header. Closes the
    'real media decode' boundary for uncompressed audio; compressed
    codecs (mp3/aac) remain the documented import-try boundary."""
    d = load_table(spark, sf_dir, "documents")
    return run_rung(d, RUNGS["wav"])


@query(
    "multimodal_video_decode",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             1 + ascii(substr(text, 1, 1)) % 8 AS width,
             1 + ascii(substr(text, length(text), 1)) % 8 AS height,
             5 * (1 + octet_length(encode(text)) % 5) AS fps,
             1 + (ascii(substr(text, 1, 1))
                  + ascii(substr(text, length(text), 1))) % 6 AS n_frames
      FROM documents),
    px AS (
      SELECT doc_id, width, height, fps, n_frames,
             ((CASE WHEN n = 0 THEN 0
                    ELSE ascii(substr(text,
                           CAST(((r.i // (width * height * 3)) * 31
                                 + r.i % (width * height * 3)) % n AS INT) + 1,
                           1))
               END) + (r.i // (width * height * 3)) * 17) % 256 AS v
      FROM params,
           UNNEST(range(0, CAST(n_frames AS BIGINT) * width * height * 3))
             AS r(i))
    SELECT doc_id, width, height, fps, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(SUM(v) AS BIGINT) AS pixel_sum
    FROM px
    GROUP BY doc_id, width, height, fps, n_frames
    """,
)
def multimodal_video_decode(spark, sf_dir):
    """REAL video-container decode through Arrow-batched mapInPandas:
    documents become standards-shaped uncompressed AVIs (RIFF 'AVI '
    with AVIMAINHEADER, a vids stream header pair, and raw 24-bit DIB
    '00db' frames — bottom-up BGR rows, 4-byte stride padding), then a
    full stdlib+numpy decode — RIFF/list tree walk, header
    cross-checks (rate/scale vs dwMicroSecPerFrame, movi frame count
    vs dwTotalFrames vs stream length, frame size vs stride·height),
    de-pad + re-flip to top-down RGB — recovers (width, height, fps,
    n_frames, pixel_sum) from the bytes alone. Completes the
    uncompressed-decode trilogy (PNG image / PCM WAV audio / DIB AVI
    video); compressed codecs remain the documented boundary. The
    oracle recomputes every value including the all-frames pixel
    checksum, so a decoder that misreads any header field or any
    frame byte hash-fails the gate."""
    d = load_table(spark, sf_dir, "documents")
    return run_rung(d, RUNGS["avi"])


@query(
    "multimodal_audio_envelope",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             8000 * (1 + ascii(substr(text, 1, 1)) % 3) AS sample_rate,
             1 + octet_length(encode(text)) % 2 AS channels,
             1 + ascii(substr(text, length(text), 1)) % 32 AS n_frames
      FROM documents),
    smp AS (
      SELECT doc_id, sample_rate, channels, n_frames,
             r.i % channels AS ch,
             (r.i // channels) // 4 AS block,
             ((CASE WHEN n = 0 THEN 0
                    ELSE ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) END)
                * 131 + r.i * 7919) % 65536 - 32768 AS v
      FROM params,
           UNNEST(range(0, CAST(n_frames AS BIGINT) * channels)) AS r(i)),
    env AS (
      SELECT doc_id, sample_rate, channels, n_frames, ch, block,
             MAX(v) AS peak
      FROM smp GROUP BY doc_id, sample_rate, channels, n_frames, ch, block)
    SELECT doc_id, sample_rate, channels,
           CAST((n_frames + 3) // 4 AS BIGINT) AS n_blocks,
           CAST(SUM(peak) AS BIGINT) AS envelope_sum
    FROM env
    GROUP BY doc_id, sample_rate, channels, n_frames
    """,
)
def multimodal_audio_envelope(spark, sf_dir):
    """Peak-decimation envelope (waveform-display / VAD-frontend
    downsample) over the REAL decoded PCM stream: per channel, frames
    group into blocks of 4 and each block reports its MAX sample —
    max, not mean, so every value is integer-exact in both engines
    with no floor-vs-truncate division hazard. envelope_sum aggregates
    every per-channel block peak, so the oracle content-checks the
    whole decimation against its own recompute of the sample rule.
    Same map-only Arrow-batched shape as multimodal_audio_decode."""
    d = load_table(spark, sf_dir, "documents")
    return run_rung(d, RUNGS["wav_envelope"])


@query(
    "multimodal_video_motion",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             1 + ascii(substr(text, 1, 1)) % 8 AS width,
             1 + ascii(substr(text, length(text), 1)) % 8 AS height,
             1 + (ascii(substr(text, 1, 1))
                  + ascii(substr(text, length(text), 1))) % 6 AS n_frames
      FROM documents),
    diffs AS (
      SELECT doc_id, n_frames,
             ABS(
               ((CASE WHEN n = 0 THEN 0
                      ELSE ascii(substr(text,
                             CAST((((r.i // (width * height * 3)) + 1) * 31
                                   + r.i % (width * height * 3)) % n AS INT) + 1,
                             1)) END)
                  + ((r.i // (width * height * 3)) + 1) * 17) % 256
               -
               ((CASE WHEN n = 0 THEN 0
                      ELSE ascii(substr(text,
                             CAST(((r.i // (width * height * 3)) * 31
                                   + r.i % (width * height * 3)) % n AS INT) + 1,
                             1)) END)
                  + (r.i // (width * height * 3)) * 17) % 256
             ) AS d
      FROM params,
           UNNEST(range(0, CAST(n_frames - 1 AS BIGINT) * width * height * 3))
             AS r(i))
    SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_frames - 1 AS BIGINT) AS n_transitions,
           CAST(COALESCE(SUM(d), 0) AS BIGINT) AS motion_sum
    FROM diffs
    GROUP BY doc_id, n_frames
    UNION ALL
    SELECT doc_id, CAST(n_frames AS BIGINT), 0, 0
    FROM params WHERE n_frames = 1
    """,
)
def multimodal_video_motion(spark, sf_dir):
    """Temporal-difference motion metric (scene-change / static-clip
    detection — the signal a video curation pipeline thresholds before
    frame sampling): exact integer L1 delta between every pair of
    consecutive REAL decoded RGB frames, summed per clip. The oracle
    recomputes both frames of every transition from the generation
    rule, so a decoder that misorders, drops, or corrupts any frame
    fails the hash; single-frame clips report zero transitions via the
    UNION ALL branch (the per-pixel CTE has no rows to group for
    them). Map-only Arrow-batched shape."""
    d = load_table(spark, sf_dir, "documents")
    return run_rung(d, RUNGS["avi_motion"])


@query(
    "multimodal_frame_dup_groups",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             1 + ascii(substr(text, 1, 1)) % 8 AS width,
             1 + ascii(substr(text, length(text), 1)) % 8 AS height,
             1 + (ascii(substr(text, 1, 1))
                  + ascii(substr(text, length(text), 1))) % 6 AS n_frames
      FROM documents),
    px AS (
      SELECT doc_id, width, height,
             CAST(r.i // (width * height * 3) AS INT) AS f,
             r.i % (width * height * 3) AS k,
             ((CASE WHEN n = 0 THEN 0
                    ELSE ascii(substr(text,
                           CAST(((r.i // (width * height * 3)) * 31
                                 + r.i % (width * height * 3)) % n AS INT) + 1,
                           1))
               END) + (r.i // (width * height * 3)) * 17) % 256 AS v
      FROM params,
           UNNEST(range(0, CAST(n_frames AS BIGINT) * width * height * 3))
             AS r(i)),
    tot AS (
      SELECT doc_id, f, CAST(SUM(v) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM px GROUP BY 1, 2),
    hashes AS (
      SELECT p.doc_id, p.f, p.width, p.height,
             CAST(COALESCE(SUM(CASE WHEN p.k < 60 AND p.v * t.n >= t.s
                  THEN CAST(1 AS BIGINT) << CAST(p.k AS INT) ELSE 0 END), 0)
                  AS BIGINT) AS ahash
      FROM px p JOIN tot t ON p.doc_id = t.doc_id AND p.f = t.f
      GROUP BY 1, 2, 3, 4)
    SELECT width, height, ahash,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc_id
    FROM hashes
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= 2
    """,
)
def multimodal_frame_dup_groups(spark, sf_dir):
    """Video dedup at FRAME granularity: decode the real AVI stream,
    perceptual-average-hash every frame (exact integer mean-compare —
    bit-reproducible in SQL), and group colliding (dims, ahash) keys
    across the whole corpus. Duplicate documents share every frame;
    near-identical videos share most — the groups are what a video
    dedup pass would drop or cluster. At 100 TB the shape is the same
    as text dedup_exact: a map-only decode+hash stage, then one
    hash-groupBy whose shuffle key is ~24 bytes per FRAME (not per
    pixel); frame volume = corpus frames, so the shuffle is bounded
    by metadata, never media bytes."""
    d = load_table(spark, sf_dir, "documents")
    h = run_rung(d, RUNGS["avi_frame_ahash"])
    return (
        h.groupBy("width", "height", "ahash")
        .agg(
            F.count("*").alias("n_frames"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_frames") >= 2)
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(r.i AS BIGINT) AS frame_idx,
           CAST(r.i AS BIGINT) * 1000 AS frame_offset
    FROM documents,
         UNNEST(range(0, greatest((octet_length(encode(text)) + 999) // 1000, 1)))
           AS r(i)
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video-style 1→N frame sampling through mapInPandas."""
    d = load_table(spark, sf_dir, "documents")
    out = sample_frames(d)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_offset",
    )


@query(
    "multimodal_image_dup_groups",
    oracle="""
    WITH params AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS n,
             1 + ascii(substr(text, 1, 1)) % 8 AS width,
             1 + ascii(substr(text, length(text), 1)) % 8 AS height,
             CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 3 ELSE 1 END
               AS channels
      FROM documents),
    px AS (
      SELECT doc_id, width, height, channels, r.i AS i,
             CASE WHEN n = 0 THEN 0
                  ELSE ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) END AS b
      FROM params,
           UNNEST(range(0, CAST(width AS BIGINT) * height * channels)) AS r(i)),
    tot AS (
      SELECT doc_id, CAST(SUM(b) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM px GROUP BY 1),
    hashes AS (
      SELECT p.doc_id, p.width, p.height, p.channels,
             CAST(COALESCE(SUM(CASE WHEN p.i < 60 AND p.b * t.n >= t.s
                  THEN CAST(1 AS BIGINT) << CAST(p.i AS INT) ELSE 0 END), 0)
                  AS BIGINT) AS ahash
      FROM px p JOIN tot t USING (doc_id)
      GROUP BY 1, 2, 3, 4)
    SELECT width, height, channels, ahash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
    FROM hashes
    GROUP BY 1, 2, 3, 4
    HAVING COUNT(*) >= 2
    """,
)
def multimodal_image_dup_groups(spark, sf_dir):
    """Image near-duplicate groups by perceptual average-hash over the
    REAL decoded pixel stream (decode -> aHash in one Arrow-batched
    pass, exact integer mean-compare so the oracle reproduces every
    bit). Groups = images agreeing on (dims, channels, ahash) — the
    multimodal dedup step; at 100 TB this is a hash-groupBy whose key
    is 28 bytes/image, the same scale shape as text dedup_exact."""
    d = load_table(spark, sf_dir, "documents")
    h = run_rung(d, RUNGS["png_ahash"])
    return (
        h.groupBy("width", "height", "channels", "ahash")
        .agg(
            F.count("*").alias("n_images"),
            F.concat_ws(
                ",",
                F.array_sort(F.collect_list(F.col("doc_id").cast("string"))),
            ).alias("doc_ids"),
        )
        .filter(F.col("n_images") >= 2)
    )


VAD_THRESHOLD = 94.5  # mean-amplitude floor for an "active" window (median-ish)


@query(
    "audio_vad_segments",
    oracle=f"""
    WITH bytes AS (
      SELECT doc_id,
             r.i // 256 AS window_idx,
             ascii(substr(text, CAST(r.i + 1 AS INT), 1)) AS b
      FROM documents, UNNEST(range(0, octet_length(encode(text)))) AS r(i)),
    win AS (
      SELECT doc_id, window_idx,
             CAST(CAST(SUM(b) AS STRING) AS DOUBLE) / COUNT(*) AS mean_amplitude,
             MAX(b) AS peak
      FROM bytes GROUP BY 1, 2),
    active AS (
      SELECT doc_id, window_idx, peak,
             window_idx - ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY window_idx) AS island
      FROM win WHERE mean_amplitude >= {VAD_THRESHOLD})
    SELECT doc_id,
           CAST(MIN(window_idx) AS INT) AS seg_start,
           CAST(MAX(window_idx) AS INT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(MAX(peak) AS BIGINT) AS seg_peak
    FROM active
    GROUP BY doc_id, island
    """,
)
def audio_vad_segments(spark, sf_dir):
    """Voice-activity-style segmentation: windows whose mean
    'amplitude' clears a floor are active, and maximal runs of
    consecutive active windows become segments [seg_start, seg_end] —
    the operator that turns raw audio into the utterance spans a
    speech-training pipeline actually ingests. Decoding rides the
    same Arrow-batched mapInPandas as multimodal_audio_windows (swap
    the byte windows for a PCM codec read at the same seam); the
    run-detection is the classic gaps-and-islands window_idx − row
    _number() grouping, one window shuffle keyed by doc_id.

    Exactness: window means are a single int/int division (identical
    IEEE op in both engines) compared to a constant; everything that
    crosses rows afterwards — island ids, bounds, peaks — is
    integer."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    win = audio_window_features(d)
    active = win.filter(F.col("mean_amplitude") >= F.lit(VAD_THRESHOLD)).select(
        "doc_id",
        "window_idx",
        F.col("peak_amplitude").alias("peak"),
        (
            F.col("window_idx")
            - F.row_number().over(
                W.partitionBy("doc_id").orderBy("window_idx")
            )
        ).alias("island"),
    )
    return active.groupBy("doc_id", "island").agg(
        F.min("window_idx").cast("int").alias("seg_start"),
        F.max("window_idx").cast("int").alias("seg_end"),
        F.count("*").alias("n_windows"),
        F.max("peak").cast("long").alias("seg_peak"),
    ).drop("island")


@query(
    "multimodal_deflate_decode",
    oracle="""
    WITH params AS (
      SELECT doc_id, text, length(text) AS n,
             6 + ascii(substr(text, 1, 1)) % 5 AS k
      FROM documents),
    b AS (
      SELECT doc_id, CAST(n AS BIGINT) * k AS n_bytes, r.i AS i,
             ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) AS byte
      FROM params,
           UNNEST(range(0, CAST(n AS BIGINT) * k)) AS r(i))
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(SUM(byte) AS BIGINT) AS byte_sum,
           CAST(SUM(i * byte) AS BIGINT) AS pos_weighted_sum,
           CAST(((n_bytes + SUM((n_bytes - i) * byte)) % 65521) * 65536
                + (1 + SUM(byte)) % 65521 AS BIGINT) AS adler32,
           TRUE AS has_all_btypes
    FROM b GROUP BY doc_id, n_bytes
    """,
)
def multimodal_deflate_decode(spark, sf_dir):
    """The general-purpose entropy rung of the codec ladder: REAL
    RFC 1950 zlib streams decoded by a FROM-SPEC RFC 1951 inflate
    (multimodal/inflate.py) — LSB-first bit reading, canonical Huffman
    over the dynamic 19-symbol code-length alphabet with its 16/17/18
    repeats, the fixed tables, stored LEN/NLEN blocks, the full
    length/distance extra-bit tables, overlapping LZ77 copies, and
    header + Adler-32 verification. Every prior PNG rung delegated its
    IDAT to stdlib zlib; this rung removes that boundary. The encoder
    guarantees each stream holds ALL THREE block types (dynamic head,
    stored sync-flush, fixed tail), so one corpus pass exercises the
    whole spec, and every output column is SQL-exact: byte_sum /
    pos_weighted_sum re-derive the decoded payload byte for byte and
    adler32 is the mod-65521 checksum the oracle recomputes from the
    generation rule — a mispacked bit or a wrong back-reference is a
    driver-red hash mismatch. pytest additionally cross-checks the
    decoder bit-exactly against stdlib zlib in both directions (all
    compression levels 0-9) and pins the per-blob block-type mix.
    Same Arrow-batched fused mapInPandas + one deliberate
    round-robin Exchange shape as the other CPU-bound rungs; at 100 TB
    this is a map-only stage — no shuffle, no collect, parallelism =
    input splits."""
    d = load_table(spark, sf_dir, "documents")
    return run_rung(d, RUNGS["deflate"]).select(
        "doc_id", "n_bytes", "byte_sum", "pos_weighted_sum",
        "adler32", "has_all_btypes",
    )


@query(
    "multimodal_flac_decode",
    oracle="""
    WITH params AS (
      SELECT doc_id, text, length(text) AS n,
             8000 * (1 + ascii(substr(text, 1, 1)) % 3) AS sample_rate,
             16 + ascii(substr(text, 1, 1)) % 32 AS s,
             1024 + 256 * (ascii(substr(text, length(text), 1)) % 4) + 377
               AS n_samples
      FROM documents),
    px AS (
      SELECT doc_id, sample_rate, n_samples, r.i AS i,
             (CASE WHEN (r.i * s) % 4096 < 2048 THEN (r.i * s) % 4096
                   ELSE 4095 - (r.i * s) % 4096 END - 1024) * 8
               + ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) % 16 - 8
               AS sample
      FROM params, UNNEST(range(0, CAST(n_samples AS BIGINT))) AS r(i))
    SELECT doc_id,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST((n_samples + 1023) // 1024 AS INT) AS n_frames,
           CAST(SUM(sample) AS BIGINT) AS sample_sum,
           CAST(SUM(i * sample) AS BIGINT) AS pos_weighted_sum,
           TRUE AS md5_ok
    FROM px GROUP BY doc_id, sample_rate, n_samples
    """,
)
def multimodal_flac_decode(spark, sf_dir):
    """The PREDICTIVE lossless-audio rung of the codec ladder: REAL
    native-FLAC-subset streams (RFC 9639) encoded AND decoded from
    the spec in pure stdlib (multimodal/flac.py) — per-frame FIXED
    linear predictors (orders 0-2, chosen by residual cost) with
    ADAPTIVE Rice-coded residuals (brute-force-optimal 4-bit
    parameter, escape-to-raw supported), real container framing
    (fLaC marker, STREAMINFO with the spec's PCM MD5, 14-bit frame
    sync, UTF-8-coded frame numbers, CRC-8 headers, CRC-16 footers).
    Where ADPCM is lossy adaptation and DEFLATE is generic byte
    entropy coding, this is the domain-structured predict-then-code
    shape modern lossless audio uses — and it is LOSSLESS, so every
    output column is SQL-exact: sample_sum / pos_weighted_sum
    re-derive the decoded stream sample for sample, and the decoder
    independently verifies CRC-8, CRC-16, and the STREAMINFO MD5 of
    the decoded PCM. pytest pins round-trips across constant / ramp /
    white-noise / corpus content, genuine compression on the ladder
    content, and corruption rejection (sync, both CRCs, MD5, frame
    order). Same Arrow-batched fused mapInPandas + one deliberate
    round-robin Exchange shape as the other CPU-bound rungs; at
    100 TB this is a map-only stage — no shuffle, no collect,
    parallelism = input splits."""
    d = load_table(spark, sf_dir, "documents")
    return run_rung(d, RUNGS["flac"]).select(
        "doc_id", "sample_rate", "n_samples", "n_frames",
        "sample_sum", "pos_weighted_sum", "md5_ok",
    )


@query(
    "multimodal_arith_decode",
    oracle="""
    WITH params AS (
      SELECT doc_id, text, length(text) AS n FROM documents),
    b AS (
      SELECT doc_id, CAST(n AS BIGINT) * 2 AS n_bytes, r.i AS i,
             ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) AS byte
      FROM params, UNNEST(range(0, CAST(n AS BIGINT) * 2)) AS r(i))
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(SUM(byte) AS BIGINT) AS byte_sum,
           CAST(SUM(i * byte) AS BIGINT) AS pos_weighted_sum,
           CAST(((n_bytes + SUM((n_bytes - i) * byte)) % 65521) * 65536
                + (1 + SUM(byte)) % 65521 AS BIGINT) AS adler32,
           TRUE AS compressed
    FROM b GROUP BY doc_id, n_bytes
    """,
)
def multimodal_arith_decode(spark, sf_dir):
    """The ADAPTIVE-ENTROPY rung of the codec ladder: context-adaptive
    binary ARITHMETIC coding (multimodal/rangecoder.py) — the entropy
    technology class behind CABAC in H.264/HEVC, implemented from the
    Witten–Neal–Cleary construction (CACM 1987): 32-bit integer
    interval arithmetic with E1/E2/E3 carry-free rescaling, pending-bit
    underflow handling, and a 255-node adaptive bit-tree context model
    that rescales its counters so probabilities track the data. This
    completes the entropy-coding inventory of the ladder (static
    Huffman: JPEG/DEFLATE; parameterized Rice: FLAC; dictionary LZW:
    GIF; adaptive arithmetic: here) — the remaining codec boundary is
    now purely the lossy perceptual/motion MODELING of MP3/H.264, not
    any entropy-coding machinery. Lossless, so every output column is
    SQL-exact: byte_sum / pos_weighted_sum re-derive the decoded
    payload byte for byte, adler32 is the from-spec checksum the
    decoder verified against the frame trailer (the oracle recomputes
    it from the generation rule), and `compressed` certifies the
    adaptive model genuinely beat 8 bits/byte on every doc. pytest
    pins round-trips across content classes, encode determinism,
    adaptive compression floors, and corruption rejection. Same
    Arrow-batched fused mapInPandas + one deliberate round-robin
    Exchange shape as the other CPU-bound rungs; at 100 TB this is a
    map-only stage — no shuffle, no collect, parallelism = input
    splits."""
    d = load_table(spark, sf_dir, "documents")
    return run_rung(d, RUNGS["arith"]).select(
        "doc_id", "n_bytes", "byte_sum", "pos_weighted_sum",
        "adler32", "compressed",
    )


@query(
    "multimodal_mpeg_motion",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             32 + 16 * (ascii(substr(text, 1, 1)) % 2) AS width,
             32 + 16 * (ascii(substr(text, length(text), 1)) % 2) AS height,
             3 + (ascii(substr(text, 1, 1))
                  + ascii(substr(text, length(text), 1))) % 2 AS n_frames,
             1 + ascii(substr(text, 1, 1)) % 3 AS sx,
             1 + ascii(substr(text, length(text), 1)) % 3 AS sy
      FROM documents)
    SELECT doc_id,
           CAST(r.f AS INT) AS frame_idx,
           CASE WHEN r.f = 0 THEN 'I' ELSE 'P' END AS frame_type,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(n_frames AS INT) AS n_frames,
           CAST((width // 16) * (height // 16) AS INT) AS n_mb,
           CAST(CASE WHEN r.f = 0 THEN 0
                ELSE ((width - 16 - sx) // 16 + 1)
                     * ((height - 16 - sy) // 16 + 1) END AS INT)
             AS n_interior,
           CAST(CASE WHEN r.f = 0 THEN 0 ELSE sx END AS INT) AS mv_dx,
           CAST(CASE WHEN r.f = 0 THEN 0 ELSE sy END AS INT) AS mv_dy,
           TRUE AS within_tolerance
    FROM params, UNNEST(range(0, CAST(n_frames AS BIGINT))) AS r(f)
    """,
)
def multimodal_mpeg_motion(spark, sf_dir):
    """The MOTION-COMPENSATED video rung — the ladder's first step
    across its last documented codec boundary (lossy perceptual/motion
    MODELING; the entropy inventory closed in r10): a simplified
    MPEG-1-style codec (multimodal/mpeg.py, "MPV1") with an intra
    frame on the JPEG DCT path (8x8 FDCT + flat near-lossless quant +
    zigzag + DC prediction + Annex-K Huffman run/size coding) and
    P-frames that carry a FULL-SEARCH motion vector per 16x16
    macroblock (SAD over +-4 integer grid then HALF-PEL refinement
    with MPEG-1's integer interpolation rounding — ISO 11172-2
    half-pel MC, the precision class H.264 extends to quarter-pel;
    ties to the zero vector, closed-loop against the RECONSTRUCTED
    reference, so encoder/decoder prediction states match bit-for-bit
    and error never accumulates) plus the motion-compensated residual
    through the same transform path; motion vectors entropy-coded in
    half-pel units with signed Exp-Golomb (H.264 se(v)) — exact
    translations land on even vectors, so the oracle's full-pel
    (mv_dx, mv_dy) stay SQL-exact.

    The blob content is a translating texture, which makes the motion
    FIELD itself SQL-exact: every interior macroblock's vector is the
    designed per-frame shift (enforced at generation — ADVICE r10
    discipline), so the oracle predicts (mv_dx, mv_dy), the count of
    matching interior vectors, frame types, and geometry, while
    within_tolerance bounds the lossy reconstruction at MPEG_TOL. A
    misparsed Exp-Golomb bit, swapped vector components, wrong
    macroblock raster order, or drifting P-frame reconstruction is an
    oracle hash mismatch. Same Arrow-batched fused mapInPandas
    + one deliberate round-robin Exchange shape as the other CPU-bound
    rungs; map-only at 100 TB — no shuffle, parallelism = input
    splits."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["mpeg"])
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "frame_type",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_frames").cast("int").alias("n_frames"),
        F.col("n_mb").cast("int").alias("n_mb"),
        F.col("n_interior").cast("int").alias("n_interior"),
        F.col("mv_dx").cast("int").alias("mv_dx"),
        F.col("mv_dy").cast("int").alias("mv_dy"),
        "within_tolerance",
    )


@query(
    "multimodal_mdct_audio",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             8000 * (1 + ascii(substr(text, 1, 1)) % 3) AS sample_rate,
             1024 + 128 * (ascii(substr(text, length(text), 1)) % 4) + 193
               AS n_samples,
             ascii(substr(text, 1, 1)) AS b0
      FROM documents)
    SELECT doc_id,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST((n_samples + 127) // 128 + 1 AS INT) AS n_frames,
           CAST(-8192 + b0 % 16 - 8 AS INT) AS first_sample,
           TRUE AS within_tolerance
    FROM params
    """,
)
def multimodal_mdct_audio(spark, sf_dir):
    """The PERCEPTUAL-AUDIO rung — the audio side of the ladder's last
    documented codec boundary, the companion of the MPV1 motion rung:
    a simplified MPEG-1-Layer-I-style transform coder
    (multimodal/mdct.py, "MAU1"). MDCT analysis/synthesis
    (Princen–Bradley TDAC with the sine window — the transform of
    AAC/Vorbis/Opus; the no-quantization round-trip is pinned exact to
    float precision in pytest, so every loss is quantization), per-band
    SCALEFACTOR quantization with fixed-width codes (spec-faithful to
    Layer I, which uses linear quantization and NO entropy coding),
    and a static low-band-weighted bit-allocation curve standing in
    for the psychoacoustic model — the documented remaining surface is
    the masking MODEL driving dynamic allocation, not any transform /
    quantization / framing machinery.

    Geometry and the raw header first sample are exact decode outputs
    (the oracle recomputes them from the generation rule, including
    the partial-tail-frame count ceil(n/128)+1); within_tolerance
    re-bounds the lossy reconstruction at MAU_TOL, enforced at blob
    generation per the ADVICE r10 discipline. Same Arrow-batched
    fused mapInPandas + one deliberate round-robin Exchange shape;
    map-only at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["mau1"])
    return out.select(
        "doc_id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        "n_samples",
        F.col("n_frames").cast("int").alias("n_frames"),
        F.col("first_sample").cast("int").alias("first_sample"),
        "within_tolerance",
    )


@query(
    "multimodal_psycho_audio",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             8000 * (1 + ascii(substr(text, 1, 1)) % 3) AS sample_rate,
             1024 + 128 * (ascii(substr(text, length(text), 1)) % 4) + 193
               AS n_samples,
             ascii(substr(text, 1, 1)) AS b0
      FROM documents)
    SELECT doc_id,
           CAST(sample_rate AS INT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST((n_samples + 127) // 128 + 1 AS INT) AS n_frames,
           CAST(-8192 + b0 % 16 - 8 AS INT) AS first_sample,
           TRUE AS within_tolerance,
           TRUE AS snr_ok
    FROM params
    """,
)
def multimodal_psycho_audio(spark, sf_dir):
    """The PSYCHOACOUSTIC-MODEL rung — closes the gap the MAU1 rung
    documents ('the remaining surface is the masking MODEL driving
    dynamic allocation'): MAU2 (multimodal/mdct.py) keeps MAU1's
    MDCT/scalefactor path but allocates bits PER FRAME from a masking
    model with the structure of ISO/IEC 11172-3 psychoacoustic model
    1 at band granularity — per-band energies, an ASYMMETRIC
    spreading function (-15 dB/band upward, -25 dB/band downward, the
    shape every perceptual codec exploits), a -10 dB masking index,
    an absolute-threshold floor, then greedy noise-to-mask-priority
    allocation under a HARD 1024-bit/frame budget, 11% below MAU1's
    static 1152 — fixed-rate discipline: the model sets the priority
    order, the budget is always fully spent. pytest pins the
    perceptual properties (bits concentrate at audible bands, masked
    neighbors of a strong tone get fewer bits than distant quiet
    bands) plus round-trips and corruption rejection.

    The driver contract is two-sided, reflecting what a perceptual
    codec promises: within_tolerance caps ABSOLUTE error loosely (the
    model deliberately leaves noise where it is masked) while snr_ok
    floors the noise ENERGY at 36 dB SNR (measured corpus worst:
    44.5 dB) — both enforced at generation. Geometry and the raw
    header first sample are SQL-exact. Same Arrow-batched fused
    mapInPandas + one round-robin Exchange shape; map-only at
    100 TB."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["mau2"])
    return out.select(
        "doc_id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        "n_samples",
        F.col("n_frames").cast("int").alias("n_frames"),
        F.col("first_sample").cast("int").alias("first_sample"),
        "within_tolerance",
        "snr_ok",
    )


# Shared by the batch rung AND the streaming decode-at-ingest query
# (streaming/queries.py::stream_avc_ingest): an availableNow file
# stream through the same fused Arrow decode op is row-identical to the
# batch run, so both check against this exact SQL.
AVC_ORACLE = """
    WITH params AS (
      SELECT doc_id, text, length(text) AS n,
             ascii(substr(text, 1, 1)) AS b0,
             ascii(substr(text, length(text), 1)) AS bl
      FROM documents),
    geo AS (
      SELECT doc_id, text, n,
             32 + 16 * (b0 % 2) AS width,
             32 + 16 * (bl % 2) AS height,
             (b0 * 7 + bl) % 12 AS qp
      FROM params),
    stripes AS (
      SELECT doc_id,
             (ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) * 131
              + r.i * 7919) % 256 AS v
      FROM geo, UNNEST(range(0, width // 4)) AS r(i))
    SELECT g.doc_id,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(qp AS INT) AS qp,
           CAST((width // 4) * (height // 4) AS INT) AS n_blocks,
           CAST((width // 4) * (height // 4 - 1) AS INT) AS n_mode0,
           CAST(width // 4 - 1 AS INT) AS n_mode1,
           CAST(1 AS INT) AS n_mode2,
           CAST(height * 4 * SUM(v) AS BIGINT) AS pixel_sum,
           TRUE AS recon_exact,
           TRUE AS within_tolerance
    FROM geo g JOIN stripes s ON g.doc_id = s.doc_id
    GROUP BY g.doc_id, width, height, qp
    """


@query("multimodal_avc_intra", oracle=AVC_ORACLE)
def multimodal_avc_intra(spark, sf_dir):
    """The H.264-TOOLING rung — crosses the ladder's last named codec
    surface ("exact ISO tables / H.264-specific tooling"): a
    simplified AVC-style INTRA still-image codec (multimodal/avc.py,
    "AVC1") built from the H.264-specific tools with the spec's exact
    arithmetic — the 4x4 INTEGER core transform (forward Cf and the
    inverse butterflies with (c>>1) half values + (x+32)>>6, the
    zero-drift construction), the EXACT quantization LUTs (MF/V
    multiplication and rescale factor tables indexed by qP%6 and
    coefficient-position class, intra offset f = 2^qbits/3, dequant
    W' = Z*V*2^(qP//6)), Intra_4x4 directional PREDICTION (modes
    VERT/HOR/DC/DDL/DDR per 8.3.1.2, incl. the DDL corner case and
    the replicate-top-right substitution), and the spec's MODE
    PREDICTION chain (predMode = Min(modeA, modeB), 1-bit prev flag +
    3-bit rem). Modes 5-8 and CAVLC are the documented omissions
    (residuals ride H.264's own 9.1 Exp-Golomb machinery). Closed
    loop: mode decision and prediction read RECONSTRUCTED neighbors,
    ties to the lowest mode index.

    The corpus blobs are 4-px vertical stripes, so every 4x4 block is
    CONSTANT — and constant residuals round-trip EXACTLY through the
    integer transform/quant pipeline at qp <= 11 (exhaustively pinned
    in pytest over every (qp, level) pair), which makes the ENTIRE
    decode SQL-exact: the mode field is forced (DC once, HOR across
    block-row 0 via the equal-SAD lowest-index tie, VERT everywhere
    below via the SAD-0 exact predictor), pixel_sum is height * 4 *
    sum(stripe values), recon_exact certifies bit-exactness — all
    enforced at generation (ADVICE r10 discipline). qp spans both
    qP//6 shift banks and every qP%6 LUT column across the corpus. A
    misparsed MPM bit, a wrong LUT cell, a swapped butterfly, or a
    prediction-equation typo reds the driver hash. Same Arrow-batched
    fused mapInPandas + one deliberate round-robin Exchange shape
    as the other CPU-bound rungs; map-only at 100 TB — no shuffle,
    parallelism = input splits."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["avc"])
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("qp").cast("int").alias("qp"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("n_mode0").cast("int").alias("n_mode0"),
        F.col("n_mode1").cast("int").alias("n_mode1"),
        F.col("n_mode2").cast("int").alias("n_mode2"),
        "pixel_sum",
        "recon_exact",
        "within_tolerance",
    )


AVCC_ORACLE = """
    WITH params AS (
      SELECT doc_id, text, length(text) AS n,
             ascii(substr(text, 1, 1)) AS b0,
             ascii(substr(text, length(text), 1)) AS bl
      FROM documents),
    geo AS (
      SELECT doc_id, text, n,
             32 + 16 * (b0 % 2) AS width,
             32 + 16 * (bl % 2) AS height,
             (b0 * 7 + bl) % 12 AS qp
      FROM params),
    stripes AS (
      SELECT doc_id, r.i AS i,
             (ascii(substr(text, CAST(r.i % n AS INT) + 1, 1)) * 131
              + r.i * 7919) % 256 AS v
      FROM geo, UNNEST(range(0, width // 4)) AS r(i)),
    quant AS (
      SELECT s.doc_id, s.i, s.v,
             CASE WHEN s.i = 0 THEN s.v - 128
                  ELSE s.v - LAG(s.v) OVER (PARTITION BY s.doc_id ORDER BY s.i)
             END AS r,
             CASE g.qp % 6 WHEN 0 THEN 13107 WHEN 1 THEN 11916
                           WHEN 2 THEN 10082 WHEN 3 THEN 9362
                           WHEN 4 THEN 8192 ELSE 7282 END AS mf,
             15 + g.qp // 6 AS qbits
      FROM stripes s JOIN geo g USING (doc_id)),
    levels AS (
      SELECT doc_id, i, v,
             (ABS(16 * r) * mf + (1 << qbits) // 3) // (1 << qbits)
               AS lmag
      FROM quant)
    SELECT g.doc_id,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(qp AS INT) AS qp,
           CAST((width // 4) * (height // 4) AS INT) AS n_blocks,
           CAST(SUM(CASE WHEN l.lmag <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS total_coeff_sum,
           CAST((width // 4) * (height // 4 - 1) AS INT) AS n_mode0,
           CAST(width // 4 - 1 AS INT) AS n_mode1,
           CAST(1 AS INT) AS n_mode2,
           CAST(height * 4 * SUM(l.v) AS BIGINT) AS pixel_sum,
           TRUE AS recon_exact,
           TRUE AS within_tolerance
    FROM geo g JOIN levels l ON g.doc_id = l.doc_id
    GROUP BY g.doc_id, width, height, qp
    """


@query("multimodal_avc_cavlc", oracle=AVCC_ORACLE)
def multimodal_avc_cavlc(spark, sf_dir):
    """The CAVLC rung (VERDICT r11 #3) — completes the H.264 entropy
    claim left open by `multimodal_avc_intra`: the same AVC intra
    codec (exact integer transform, MF/V quantization LUTs, Intra_4x4
    prediction, MPM mode chain) with residuals coded by
    CONTEXT-ADAPTIVE VLC per ITU-T H.264 §9.2 (multimodal/cavlc.py,
    "AVCC"): coeff_token with the spec's nC = (nA+nB+1)>>1 neighbor
    context and table thresholds (nC < 2/4/8, FLC at >= 8),
    trailing-one sign flags, level coding with the 9.2.2.1
    suffixLength adaptation (init by TotalCoeff>10 & T1<3, the
    first-level -2 adjustment, the 3<<(len-1) bump rule, cap 6),
    total_zeros, and run_before with zerosLeft bookkeeping. The
    codeword BIT PATTERNS of Tables 9-5/9-7/9-10 are documented
    substitutions (cavlc.py module docstring) — the adaptive
    machinery is what this rung claims, and it is pinned exhaustively
    (tests/test_multimodal.py: every (context, TotalCoeff,
    TrailingOnes) coeff_token triple round-trips; adaptation walks
    checked by hand).

    The stripe corpus makes the ENTROPY FIELD itself SQL-exact:
    constant residuals quantize to at most one DC coefficient, so
    total_coeff_sum equals the count of stripes whose quantized level
    (ABS(16r)*MF + f) >> qbits is nonzero — the oracle recomputes the
    quantizer in SQL from the MF column and intra offset. A wrong
    context, a desynced run width, or a mis-adapted suffix reds the
    checksum (Adler-32 over the reconstruction) or the counts. Same
    Arrow-batched fused mapInPandas + one deliberate round-robin
    Exchange shape; map-only at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    out = run_rung(d, RUNGS["avcc"])
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("qp").cast("int").alias("qp"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        "total_coeff_sum",
        F.col("n_mode0").cast("int").alias("n_mode0"),
        F.col("n_mode1").cast("int").alias("n_mode1"),
        F.col("n_mode2").cast("int").alias("n_mode2"),
        "pixel_sum",
        "recon_exact",
        "within_tolerance",
    )
