"""The multimodal codec ladder as data: codec primitives, one `Rung`
table and one function that runs any rung as a fused `mapInPandas`.

Each rung turns document text into a REAL media file and decodes it
back: `gen` derives the encoder arguments from the text bytes (so a
SQL oracle can predict what a correct decoder must report),
`encode`/`decode` are the codec's writer and reader (PNG, WAV, AVI and
MJPEG-AVI here, the rest in the sibling modules), and `summarize`
reports what the decoder recovered — nothing passes side-band from the
encoder. `run_rung` runs the chain per document inside ONE
Arrow-batched mapInPandas, so the blob is never materialized.

IMPORTANT (worker serialization): this module and every codec module
it imports are registered pickle-by-value, so the functions a rung
ships to mapInPandas travel inside the pickled closure and the Python
workers never need the package importable on their sys.path.
"""

from __future__ import annotations

import sys
from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The codec functions below are captured by mapInPandas closures.
# Python workers do NOT have this package on sys.path, so module
# globals must ship BY VALUE inside the pickled closure instead of by
# module reference — cloudpickle supports exactly this opt-in.
from pyspark import cloudpickle

from .adpcm import ADPCM_TOL, SAMPLES_PER_BLOCK, adpcm_wav_decode, adpcm_wav_encode
from .avc import AVC_TOL, DC, HOR, VERT, avc_decode, avc_encode_stats
from .cavlc import avcc_decode, avcc_encode_stats
from .flac import flac_decode, flac_encode
from .gif import gif_decode, gif_encode
from .inflate import adler32_spec, zlib_inflate, zlib_multiblock_compress
from .jpeg import JPEG_TOL, jpeg_decode, jpeg_encode
from .mdct import MAU2_SNR_FLOOR_DB, MAU2_TOL, MAU_TOL, mau2_decode, mau2_encode
from .mdct import mau_decode, mau_encode
from .mpeg import MB, MPEG_TOL, mpeg_decode, mpeg_encode_stats
from .rangecoder import rc_decode, rc_encode

cloudpickle.register_pickle_by_value(sys.modules[__name__])

DECODE_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "n_pixels long, pixel_sum long"
)
FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_offset long"


def png_encode(
    width: int, height: int, channels: int, pixels: bytes, row_filter: int = 0
) -> bytes:
    """Minimal REAL PNG writer (stdlib only): 8-bit greyscale or
    truecolor, one IDAT, correct CRCs. Readable by any
    standards-compliant viewer. ``row_filter`` picks the scanline
    filter: 0 (None) or 2 (Up — each row stores its delta vs the row
    above, the spec's cheap vertical predictor; repetitive pixel
    streams deflate much smaller, which is why real encoders filter)."""
    import struct
    import zlib

    if row_filter not in (0, 2):
        raise ValueError(f"unsupported encode filter {row_filter}")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    color_type = 2 if channels == 3 else 0
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    if row_filter == 0:
        raw = b"".join(
            b"\x00" + pixels[r * stride : (r + 1) * stride]
            for r in range(height)
        )
    else:  # Up: out[x] = cur[x] - prev[x] (mod 256), row-vectorized
        import numpy as np

        mat = np.frombuffer(pixels, dtype=np.uint8).reshape(height, stride)
        deltas = np.empty((height, stride + 1), dtype=np.uint8)
        deltas[:, 0] = 2
        deltas[0, 1:] = mat[0]
        deltas[1:, 1:] = mat[1:] - mat[:-1]  # uint8 wraps mod 256
        raw = deltas.tobytes()
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# Adam7 pass grid: (x_origin, y_origin, x_step, y_step) per pass, in
# pass order. Each pass is an independent sub-image for filtering
# (its first row's "above" is zero), serialized back-to-back in one
# deflate stream; passes whose sub-image is empty contribute nothing
# (not even filter bytes).
ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _defilter(mat, bpp: int):
    """Reverse the per-scanline filter over one (sub-)image: ``mat``
    is the (rows, stride+1) uint8 matrix of [filter_byte | bytes];
    returns the (rows, stride) reconstructed pixels. All five spec
    types; out-of-spec filter bytes raise. The common filters (None,
    Sub, Up) are one numpy op per ROW — uint8 add wraps mod 256
    natively, and Sub's left-recursion is a per-channel-lane cumsum —
    so the hot path costs O(rows) numpy calls, not O(pixel_bytes)
    Python iterations. Average and Paeth depend on the RECONSTRUCTED
    left byte — an inherently sequential recurrence along the row —
    but are vectorized ACROSS the channel lanes (one numpy step per
    PIXEL column, not per byte), so a foreign file using them costs
    O(width) interpreter iterations per row instead of
    O(width·channels) (ADVICE r9; they remain foreign-file-only —
    our encoders emit 0/2)."""
    import numpy as np

    rows, stride = mat.shape[0], mat.shape[1] - 1
    ftypes = mat[:, 0]
    if ftypes.max(initial=0) > 4:
        bad = int(ftypes[ftypes > 4][0])
        raise ValueError(f"corrupt PNG: filter byte {bad} out of spec")
    out = np.empty((rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(rows):
        ftype, line = int(ftypes[r]), mat[r, 1:]
        if ftype == 0:
            cur = line.copy()
        elif ftype == 1:  # Sub: + left ⇒ cumsum along each channel lane
            cur = np.empty(stride, dtype=np.uint8)
            for c in range(bpp):
                lane = line[c::bpp].astype(np.int64).cumsum()
                cur[c::bpp] = (lane % 256).astype(np.uint8)
        elif ftype == 2:  # Up: + above (uint8 add wraps mod 256)
            cur = line + prev
        elif ftype == 3:  # Average: + floor((left + above)/2)
            ln = line.reshape(-1, bpp).astype(np.int64)
            pv = prev.reshape(-1, bpp).astype(np.int64)
            rec = np.empty_like(ln)
            left = np.zeros(bpp, dtype=np.int64)
            for xi in range(ln.shape[0]):
                left = (ln[xi] + (left + pv[xi]) // 2) & 0xFF
                rec[xi] = left
            cur = rec.astype(np.uint8).reshape(-1)
        else:  # Paeth predictor
            ln = line.reshape(-1, bpp).astype(np.int64)
            pv = prev.reshape(-1, bpp).astype(np.int64)
            rec = np.empty_like(ln)
            a = np.zeros(bpp, dtype=np.int64)  # reconstructed left
            c = np.zeros(bpp, dtype=np.int64)  # reconstructed upper-left
            for xi in range(ln.shape[0]):
                b = pv[xi]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                a = (ln[xi] + pred) & 0xFF
                rec[xi] = a
                c = b
            cur = rec.astype(np.uint8).reshape(-1)
        out[r] = cur
        prev = cur
    return out


def png_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Minimal REAL PNG reader (stdlib only): walks the chunk stream,
    checks the signature and chunk CRCs, parses IHDR, inflates the
    concatenated IDAT stream, and reverses the per-scanline filter —
    all five spec filter types (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth) — for BOTH interlace methods (0 sequential, 1 Adam7: the
    seven passes de-filter independently, then scatter back onto the
    full raster by the pass grid), so any standards-compliant 8-bit
    PNG decodes; an out-of-spec filter byte raises. Returns
    (width, height, channels, pixel_bytes) in raster order."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos, idat = 8, b""
    width = height = color_type = None
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + ln
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace not in (0, 1):
                raise ValueError("unsupported PNG: need 8-bit, interlace 0/1")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("invalid PNG: no IHDR chunk")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    stride = width * channels
    import numpy as np

    bpp = channels  # bytes per pixel at depth 8
    if interlace == 0:
        if len(raw) != height * (stride + 1):
            raise ValueError(
                f"corrupt PNG: inflated {len(raw)} bytes, "
                f"expected {height * (stride + 1)}"
            )
        mat = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
        return width, height, channels, _defilter(mat, bpp).tobytes()

    # Adam7: seven independently-filtered sub-images back-to-back in
    # one deflate stream; de-filter each, then one vectorized numpy
    # scatter per pass puts its pixels on the full raster grid.
    img = np.zeros((height, width, channels), dtype=np.uint8)
    pos = 0
    buf = np.frombuffer(raw, dtype=np.uint8)
    for x0, y0, dx, dy in ADAM7_PASSES:
        wp = (width - x0 + dx - 1) // dx
        hp = (height - y0 + dy - 1) // dy
        if wp <= 0 or hp <= 0:
            continue
        sp = wp * channels
        nbytes = hp * (sp + 1)
        if pos + nbytes > len(buf):
            raise ValueError("corrupt PNG: Adam7 stream truncated")
        mat = buf[pos : pos + nbytes].reshape(hp, sp + 1)
        pos += nbytes
        img[y0::dy, x0::dx, :] = _defilter(mat, bpp).reshape(hp, wp, channels)
    if pos != len(buf):
        raise ValueError(
            f"corrupt PNG: {len(buf) - pos} trailing bytes after Adam7 passes"
        )
    return width, height, channels, img.tobytes()


def png_encode_adam7(
    width: int, height: int, channels: int, pixels: bytes, row_filter: int = 2
) -> bytes:
    """Minimal REAL interlaced PNG writer (stdlib only): IHDR
    interlace=1, pixels split into the seven Adam7 passes, each pass
    filtered as an INDEPENDENT sub-image (its first row's "above" is
    zero — the spec's rule), all passes deflated into one IDAT.
    ``row_filter``: 0 (None) or 2 (Up within the pass). Readable by
    any standards-compliant viewer."""
    import struct
    import zlib

    import numpy as np

    if row_filter not in (0, 2):
        raise ValueError(f"unsupported encode filter {row_filter}")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    color_type = 2 if channels == 3 else 0
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 1)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    parts = []
    for x0, y0, dx, dy in ADAM7_PASSES:
        wp = (width - x0 + dx - 1) // dx
        hp = (height - y0 + dy - 1) // dy
        if wp <= 0 or hp <= 0:
            continue
        sub = img[y0::dy, x0::dx, :].reshape(hp, wp * channels)
        ser = np.empty((hp, wp * channels + 1), dtype=np.uint8)
        ser[:, 0] = row_filter
        if row_filter == 0:
            ser[:, 1:] = sub
        else:  # Up within the pass: row r stores sub[r] - sub[r-1]
            ser[0, 1:] = sub[0]
            ser[1:, 1:] = sub[1:] - sub[:-1]  # uint8 wraps mod 256
        parts.append(ser.tobytes())
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + chunk(b"IEND", b"")
    )


# Position weight modulus for the Adam7 content check: pixel_sum alone
# is PERMUTATION-INVARIANT, so a decoder that de-filters correctly but
# scatters a pass to the wrong grid cells would still match it. The
# weighted digest sum((i % ADAM7_W_MOD + 1) * px[i]) over RASTER order
# breaks under any misplacement. 9973 is prime (no resonance with the
# 1..32-px strides); max term 9973*255*3072 per doc stays far inside
# int64.
ADAM7_W_MOD = 9973


def wav_encode(sample_rate: int, channels: int, frames: bytes) -> bytes:
    """Minimal REAL WAV writer (stdlib only): canonical RIFF/WAVE with
    a 16-byte PCM fmt chunk and one data chunk. `frames` is the raw
    little-endian int16 sample stream (n_frames * channels samples).
    Playable by any standards-compliant audio tool."""
    import struct

    block_align = channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * block_align, block_align, 16,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(frames)) + frames
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes):
    """Minimal REAL WAV reader (stdlib + numpy): validates the RIFF
    signature and declared size, walks the word-aligned chunk stream,
    parses fmt (16-bit integer PCM only — anything else raises, the
    honest guard for foreign files), cross-checks byte-rate and
    block-align against the advertised geometry, and decodes the data
    chunk. Returns (sample_rate, channels, bit_depth, n_frames,
    samples) with samples an int16 numpy array — nothing is passed
    side-band from the encoder."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF":
        raise ValueError("not a WAV: bad RIFF signature")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size != len(data) - 8:
        raise ValueError(
            f"corrupt WAV: RIFF declares {riff_size}, have {len(data) - 8}"
        )
    if data[8:12] != b"WAVE":
        raise ValueError("not a WAV: missing WAVE form type")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError(f"corrupt WAV: chunk {tag!r} truncated")
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
        if tag == b"fmt ":
            if fmt is not None:
                # Keep the raise-on-anomaly guarantee: a second fmt
                # chunk would silently overwrite the geometry the
                # first one declared (ADVICE r8).
                raise ValueError("corrupt WAV: duplicate fmt chunk")
            audio_fmt, channels, rate, byte_rate, block_align, bits = (
                struct.unpack("<HHIIHH", body[:16])
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError("unsupported WAV: need 16-bit integer PCM")
            if block_align != channels * 2 or byte_rate != rate * block_align:
                raise ValueError("corrupt WAV: fmt geometry inconsistent")
            fmt = (rate, channels, bits)
        elif tag == b"data":
            if pcm is not None:
                raise ValueError("corrupt WAV: duplicate data chunk")
            pcm = body
    if fmt is None or pcm is None:
        raise ValueError("invalid WAV: missing fmt/data chunk")
    rate, channels, bits = fmt
    samples = np.frombuffer(pcm, dtype="<i2")
    if samples.size % channels:
        raise ValueError("corrupt WAV: data chunk not frame-aligned")
    return rate, channels, bits, samples.size // channels, samples


def avi_encode(width: int, height: int, fps: int, frames: list) -> bytes:
    """Minimal REAL AVI writer (stdlib only): RIFF('AVI ') with a
    standards-shaped hdrl (AVIMAINHEADER + one 'vids' stream:
    AVISTREAMHEADER + BITMAPINFOHEADER, 24-bit BI_RGB) and a movi list
    of raw '00db' DIB frames — bottom-up BGR rows, stride padded to 4
    bytes, exactly what an uncompressed AVI player expects. `frames`
    is a list of top-down RGB frame buffers (width*height*3 bytes)."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - width * 3)

    def dib(frame: bytes) -> bytes:
        rows = []
        for r in range(height - 1, -1, -1):  # DIB rows are bottom-up
            row = frame[r * width * 3 : (r + 1) * width * 3]
            # RGB -> BGR per pixel
            rows.append(
                b"".join(row[p + 2 : p + 3] + row[p + 1 : p + 2] + row[p : p + 1]
                         for p in range(0, len(row), 3)) + pad
            )
        return b"".join(rows)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(form: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", form + body)

    frame_bytes = stride * height
    avih = struct.pack(
        "<14I", 1_000_000 // fps, frame_bytes * fps, 0, 0, len(frames), 0,
        1, frame_bytes, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h", b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps, 0, len(frames), frame_bytes, 0, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_bytes, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_decode(data: bytes):
    """Minimal REAL AVI reader (stdlib + numpy): validates the RIFF
    signature and declared size, walks the list/chunk tree, parses
    AVIMAINHEADER + the vids stream's AVISTREAMHEADER and
    BITMAPINFOHEADER (24-bit BI_RGB only — anything else raises),
    cross-checks fps (dwRate/dwScale vs dwMicroSecPerFrame) and the
    frame count (movi '00db' chunks vs dwTotalFrames vs stream
    dwLength), strips stride padding, flips the bottom-up BGR rows
    back to top-down RGB, and returns (width, height, fps, n_frames,
    frames) with frames a list of RGB byte buffers."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF":
        raise ValueError("not an AVI: bad RIFF signature")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size != len(data) - 8:
        raise ValueError(
            f"corrupt AVI: RIFF declares {riff_size}, have {len(data) - 8}"
        )
    if data[8:12] != b"AVI ":
        raise ValueError("not an AVI: missing form type")

    def walk(buf, pos, end):
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            (ln,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body_start = pos + 8
            if body_start + ln > end:
                raise ValueError(f"corrupt AVI: chunk {tag!r} truncated")
            yield tag, body_start, ln
            pos = body_start + ln + (ln & 1)

    avih = strh = strf = None
    frame_chunks = []

    def scan(buf, pos, end):
        nonlocal avih, strh, strf
        for tag, start, ln in walk(buf, pos, end):
            if tag == b"LIST":
                scan(buf, start + 4, start + ln)
            elif tag == b"avih":
                avih = struct.unpack("<14I", buf[start : start + 56])
            elif tag == b"strh":
                strh = struct.unpack("<4s4sIHHIIIIIIII4h", buf[start : start + 56])
            elif tag == b"strf":
                strf = struct.unpack("<IiiHHIIiiII", buf[start : start + 40])
            elif tag == b"00db":
                frame_chunks.append((start, ln))
            elif tag == b"00dc":
                # '00dc' marks COMPRESSED frame data; this decoder
                # supports only raw DIB ('00db'). Treating a 00dc
                # chunk as raw pixels would misreport a malformed
                # file instead of rejecting it (ADVICE r8).
                raise ValueError(
                    "unsupported AVI: compressed '00dc' frame chunk "
                    "(raw '00db' DIB frames only)"
                )

    scan(data, 12, len(data))
    if avih is None or strh is None or strf is None:
        raise ValueError("invalid AVI: missing avih/strh/strf header")
    usec, _, _, _, total_frames, _, n_streams, _, width, height = avih[:10]
    if strh[0] != b"vids":
        raise ValueError("unsupported AVI: first stream is not video")
    scale, rate, length = strh[6], strh[7], strh[9]
    bit_count, compression = strf[4], strf[5]
    if compression != 0 or bit_count != 24:
        raise ValueError("unsupported AVI: need 24-bit BI_RGB frames")
    if scale == 0 or rate % scale:
        raise ValueError("corrupt AVI: non-integer frame rate")
    fps = rate // scale
    if usec != 1_000_000 // fps:
        raise ValueError("corrupt AVI: dwMicroSecPerFrame disagrees with rate/scale")
    if len(frame_chunks) != total_frames or length != total_frames:
        raise ValueError(
            f"corrupt AVI: {len(frame_chunks)} movi frames, header declares "
            f"{total_frames}/{length}"
        )
    stride = (width * 3 + 3) // 4 * 4
    frames = []
    for start, ln in frame_chunks:
        if ln != stride * height:
            raise ValueError(
                f"corrupt AVI: frame is {ln} bytes, expected {stride * height}"
            )
        dib = np.frombuffer(data, dtype=np.uint8, count=ln, offset=start)
        rows = dib.reshape(height, stride)[:, : width * 3]  # strip pad
        rgb = rows.reshape(height, width, 3)[::-1, :, ::-1]  # flip + BGR->RGB
        frames.append(rgb.tobytes())
    return width, height, fps, total_frames, frames


_MJPG_FOURCC = 0x47504A4D  # 'MJPG' little-endian


def mjpeg_avi_encode(width: int, height: int, fps: int, jpeg_frames: list) -> bytes:
    """Minimal REAL Motion-JPEG AVI writer (stdlib only): same
    RIFF('AVI ') / hdrl / movi shape as avi_encode, but the vids
    stream declares fccHandler='MJPG' + biCompression='MJPG' and each
    frame is a COMPRESSED '00dc' chunk holding a complete baseline
    JPEG (multimodal/jpeg.py) — the classic MJPEG-in-AVI layout that
    standards-compliant players (ffmpeg, VLC) accept."""
    import struct

    max_frame = max((len(f) for f in jpeg_frames), default=0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            tag + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    def lst(form: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", form + body)

    avih = struct.pack(
        "<14I", 1_000_000 // fps, max_frame * fps, 0, 0, len(jpeg_frames),
        0, 1, max_frame, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h", b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps, 0, len(jpeg_frames), max_frame, 0, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, _MJPG_FOURCC,
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def mjpeg_avi_decode(data: bytes):
    """Minimal REAL MJPEG-AVI reader: validates the RIFF tree the same
    way as avi_decode, requires biCompression='MJPG' (raw '00db'
    frames raise — the mirror-image guard of avi_decode's '00dc'
    rejection), cross-checks fps and frame counts, then ENTROPY-
    DECODES every '00dc' chunk through the baseline JPEG decoder and
    verifies each frame's geometry against the stream header. Returns
    (width, height, fps, n_frames, frames) with frames RGB byte
    buffers."""
    import struct


    if data[:4] != b"RIFF":
        raise ValueError("not an AVI: bad RIFF signature")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size != len(data) - 8:
        raise ValueError(
            f"corrupt AVI: RIFF declares {riff_size}, have {len(data) - 8}"
        )
    if data[8:12] != b"AVI ":
        raise ValueError("not an AVI: missing form type")

    def walk(buf, pos, end):
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            (ln,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body_start = pos + 8
            if body_start + ln > end:
                raise ValueError(f"corrupt AVI: chunk {tag!r} truncated")
            yield tag, body_start, ln
            pos = body_start + ln + (ln & 1)

    avih = strh = strf = None
    frame_chunks = []

    def scan(buf, pos, end):
        nonlocal avih, strh, strf
        for tag, start, ln in walk(buf, pos, end):
            if tag == b"LIST":
                scan(buf, start + 4, start + ln)
            elif tag == b"avih":
                avih = struct.unpack("<14I", buf[start : start + 56])
            elif tag == b"strh":
                strh = struct.unpack(
                    "<4s4sIHHIIIIIIII4h", buf[start : start + 56]
                )
            elif tag == b"strf":
                strf = struct.unpack("<IiiHHIIiiII", buf[start : start + 40])
            elif tag == b"00dc":
                frame_chunks.append((start, ln))
            elif tag == b"00db":
                raise ValueError(
                    "unsupported AVI: raw '00db' frame in an MJPEG "
                    "stream (compressed '00dc' JPEG frames only)"
                )

    scan(data, 12, len(data))
    if avih is None or strh is None or strf is None:
        raise ValueError("invalid AVI: missing avih/strh/strf header")
    usec, _, _, _, total_frames, _, _n_streams, _, width, height = avih[:10]
    if strh[0] != b"vids" or strh[1] != b"MJPG":
        raise ValueError("unsupported AVI: first stream is not MJPG video")
    scale, rate, length = strh[6], strh[7], strh[9]
    bit_count, compression = strf[4], strf[5]
    if compression != _MJPG_FOURCC or bit_count != 24:
        raise ValueError("unsupported AVI: need 24-bit MJPG frames")
    if scale == 0 or rate % scale:
        raise ValueError("corrupt AVI: non-integer frame rate")
    fps = rate // scale
    if usec != 1_000_000 // fps:
        raise ValueError(
            "corrupt AVI: dwMicroSecPerFrame disagrees with rate/scale"
        )
    if len(frame_chunks) != total_frames or length != total_frames:
        raise ValueError(
            f"corrupt AVI: {len(frame_chunks)} movi frames, header "
            f"declares {total_frames}/{length}"
        )
    frames = []
    for start, ln in frame_chunks:
        w, h, _ch, px = jpeg_decode(data[start : start + ln])
        if (w, h) != (width, height):
            raise ValueError(
                f"corrupt AVI: frame geometry {w}x{h} disagrees with "
                f"stream header {width}x{height}"
            )
        frames.append(px)
    return width, height, fps, total_frames, frames


# ---------------------------------------------------------------------------
# Raw byte plumbing (no codec): the text's UTF-8 bytes as the binary
# column, windowed features and 1->N frame sampling over it.


def with_blob(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column (+ keep doc_id)."""
    return docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))


AUDIO_SCHEMA = "doc_id long, window_idx int, mean_amplitude double, peak_amplitude int"


def audio_window_features(docs: DataFrame, window_bytes: int = 256) -> DataFrame:
    """'Audio' feature extraction: per fixed-size byte window, mean and
    peak amplitude (bytes stand in for PCM samples — swap the body for
    a real codec read; the windowed-feature plumbing is the operator).
    The mean is int_sum/window_bytes with a power-of-two denominator —
    a dyadic rational, exactly representable in double, so NO rounding
    (rounding would hit exact .5 midpoints where Python banker's-rounds
    and DuckDB half-up-rounds differently)."""

    def op(batches):
        import numpy as np
        import pandas as pd

        rows = []
        for pdf in batches:
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                arr = np.frombuffer(blob, dtype=np.uint8)
                for w in range(0, len(arr), window_bytes):
                    chunk = arr[w : w + window_bytes]
                    rows.append(
                        (
                            doc_id,
                            w // window_bytes,
                            int(chunk.sum()) / len(chunk),
                            int(chunk.max()),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "window_idx", "mean_amplitude", "peak_amplitude"]
            )
            rows = []

    return with_blob(docs).mapInPandas(op, AUDIO_SCHEMA)


def sample_frames(docs: DataFrame, stride: int = 1000) -> DataFrame:
    """One row per sampled 'frame': ceil(n_bytes/stride) frames (min 1
    for empty blobs) — the 1→N expansion shape of video frame
    sampling. Ceil, not //+1: the latter emits a frame at
    offset == n_bytes (past the end) whenever n_bytes is an exact
    stride multiple."""

    def op(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = max(1, (len(blob) + stride - 1) // stride)
                rows.extend((doc_id, idx, idx * stride) for idx in range(n_frames))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_offset"])

    return with_blob(docs).mapInPandas(op, FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# Signal generators: text bytes -> (encoder args, src), with src what
# the contract and summary compare the decode against. Every rule is
# SQL-recomputable from ascii(substr(text, ...)); queries.py's oracles
# restate them.


def _png_small(b):
    """PNG trilogy: width/height from the first/last byte (1..8 each),
    truecolor iff the byte length is even, pixels cycle the text."""
    w = 1 + (b[0] % 8) if b else 1
    h = 1 + (b[-1] % 8) if b else 1
    ch = 3 if len(b) % 2 == 0 else 1
    need = w * h * ch
    px = (b * (need // max(1, len(b)) + 1))[:need] if b else b"\x00" * need
    return (w, h, ch, px), None


def _ladder_geom(b, span=17):
    """Ladder geometry: 16 + first_byte % span by 16 + last_byte % span."""
    return (16 + b[0] % span, 16 + b[-1] % span) if b else (16, 16)


def _ramp(b, m, step, mul):
    """byte[i mod n] + (i // step) * mul for i < m as int64 (byte term 0
    for empty text): the ladder's pixel family before the mod 256."""
    i = np.arange(m, dtype=np.int64)
    src = (
        np.frombuffer(b, dtype=np.uint8).astype(np.int64)[i % len(b)]
        if b
        else np.zeros(m, dtype=np.int64)
    )
    return src + (i // step) * mul


def _png_ladder(step, mul):
    """Truecolor ladder PNG, pixel i = ramp(step, mul) mod 256, stored
    Up-filtered (filter 2, per pass for Adam7) before deflate."""

    def gen(b):
        w, h = _ladder_geom(b)
        px = (_ramp(b, w * h * 3, step, mul) % 256).astype(np.uint8).tobytes()
        return (w, h, 3, px, 2), None

    return gen


def _jpeg_gen(b):
    """Ladder JPEG, pixel i = (byte[i mod n] + (i // 3) * 7) mod 256;
    src = the expected pixels the lossy decode is bounded against."""
    w, h = _ladder_geom(b)
    expected = _ramp(b, w * h * 3, 3, 7) % 256
    return (w, h, expected.astype(np.uint8).tobytes()), expected


def _wav_gen(b):
    """PCM WAV: rate = 8000 * (1 + first_byte % 3), stereo iff the byte
    length is odd, n_frames = 1 + last_byte % 32, sample k =
    ((byte[k mod n] * 131 + k * 7919) mod 65536) - 32768."""
    n = len(b)
    rate = 8000 * (1 + (b[0] % 3)) if n else 8000
    channels = 1 + n % 2
    n_frames = 1 + (b[-1] % 32) if n else 1
    m = n_frames * channels
    idx = np.arange(m, dtype=np.int64)
    t = (
        np.frombuffer(b, dtype=np.uint8)[idx % n].astype(np.int64)
        if n
        else np.zeros(m, dtype=np.int64)
    )
    v = (t * 131 + idx * 7919) % 65536 - 32768
    return (rate, channels, v.astype("<i2").tobytes()), None


def _avi_gen(b):
    """Raw AVI: width/height = 1 + first/last byte % 8, fps = 5 * (1 +
    byte_length % 5), n_frames = 1 + (first + last byte) % 6, byte k
    of frame f = (byte[(f*31 + k) mod n] + f*17) mod 256."""
    n = len(b)
    w = 1 + (b[0] % 8) if n else 1
    h = 1 + (b[-1] % 8) if n else 1
    fps = 5 * (1 + n % 5)
    nf = 1 + ((b[0] + b[-1]) % 6) if n else 1
    sz = w * h * 3
    src = np.frombuffer(b, dtype=np.uint8).astype(np.int64) if n else None
    frames = []
    for f in range(nf):
        k = np.arange(sz, dtype=np.int64)
        t = src[(f * 31 + k) % n] if n else np.zeros(sz, dtype=np.int64)
        frames.append(((t + f * 17) % 256).astype(np.uint8).tobytes())
    return (w, h, fps, frames), None


def _gif_gen(b):
    """Ladder GIF, index i = (byte[(i//5) mod n] + i//64) % 256 — the
    runs of 5 make LZW genuinely compress."""
    w, h = _ladder_geom(b)
    i = np.arange(w * h, dtype=np.int64)
    src = (
        np.frombuffer(b, dtype=np.uint8).astype(np.int64)[(i // 5) % len(b)]
        if b
        else np.zeros(w * h, dtype=np.int64)
    )
    return (w, h, ((src + i // 64) % 256).astype(np.uint8).tobytes()), None


def _adpcm_gen(b):
    """IMA-ADPCM: a smooth varying-slope triangle the 4-bit codes track
    — A_k = cumsum(1 + byte[k mod n] % 13), tri = A_k mod 4096
    reflected, sample_k = (tri - 1024) * 8; rate = 8000 * (1 +
    first_byte % 3), n_samples = (1 + last_byte % 4) * 505 (whole
    blocks). The block header stores the first sample EXACTLY."""
    n = len(b)
    rate = 8000 * (1 + (b[0] % 3)) if n else 8000
    m = (1 + (b[-1] % 4) if n else 1) * SAMPLES_PER_BLOCK
    k = np.arange(m, dtype=np.int64)
    d = (
        1 + np.frombuffer(b, dtype=np.uint8).astype(np.int64)[k % n] % 13
        if n
        else np.ones(m, dtype=np.int64)
    )
    v = np.cumsum(d) % 4096
    s = ((np.where(v < 2048, v, 4095 - v) - 1024) * 8).astype(np.int64)
    return (rate, s), s


def _mjpeg_gen(b):
    """MJPEG AVI: width/height = 16 + first/last byte % 5, fps = 5 *
    (1 + byte_length % 4), n_frames = 2 + (first + last byte) % 3,
    frame f = the JPEG pixel family + f*11 (mod 256), so frame ORDER
    is checkable; src = the unshifted base."""
    n = len(b)
    w, h = _ladder_geom(b, 5)
    nf = 2 + ((b[0] + b[-1]) % 3) if n else 2
    base = _ramp(b, w * h * 3, 3, 7)
    frames = [((base + f * 11) % 256).astype(np.uint8).tobytes() for f in range(nf)]
    return (w, h, 5 * (1 + n % 4), frames), base


def _mjpeg_encode(width, height, fps, frames):
    """Every RGB frame through the baseline JPEG encoder, then muxed."""
    jpegs = [jpeg_encode(width, height, f) for f in frames]
    return mjpeg_avi_encode(width, height, fps, jpegs)


def _deflate_gen(b):
    """zlib payload = the text repeated 6 + first_byte % 5 times."""
    return (b * (6 + b[0] % 5),), None


def _rc_gen(b):
    """RC01 payload = the text twice (src: for the contract)."""
    return (b * 2,), b * 2


def _tri_text(bb, n, total, s):
    """sample i = (tri((i*s) mod 4096) - 1024)*8 + byte[i mod n] % 16 - 8:
    a smooth ramp (predictor / low-MDCT-band friendly) plus a
    text-keyed broadband term that binds content."""
    i = np.arange(total, dtype=np.int64)
    v = (i * s) % 4096
    return (np.where(v < 2048, v, 4095 - v) - 1024) * 8 + bb[i % n] % 16 - 8


def _flac_gen(b):
    """FLAC: rate = 8000*(1 + first_byte % 3), n_samples = 1024 +
    256*(last_byte % 4) + 377 (always a short tail frame), slope 16 +
    first_byte % 32."""
    bb = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    samples = _tri_text(bb, len(b), 1024 + 256 * (b[-1] % 4) + 377, 16 + b[0] % 32)
    return (8000 * (1 + b[0] % 3), samples.tolist()), None


def _mau_samples(bb, n):
    """The MAU1/MAU2 signal: n_samples = 1024 + 128*(last_byte % 4) +
    193 (never a multiple of the 128-sample hop), slope 12 +
    first_byte % 24."""
    total = 1024 + 128 * int(bb[-1] % 4) + 193
    return _tri_text(bb, n, total, 12 + int(bb[0] % 24))


def _mau_gen(b):
    """MAU1/MAU2: rate = 8000*(1 + first_byte % 3); src = the samples."""
    bb = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    samples = _mau_samples(bb, len(b))
    return (8000 * (1 + int(bb[0] % 3)), samples.tolist()), samples


def _mpeg_gen(b):
    """MPV1: a TRANSLATING texture, so the motion field is SQL-exact —
    width/height = 32 + 16*(first/last byte % 2), n_frames = 3 +
    (first + last byte) % 2, shift (sx, sy) = (1 + first_byte % 3, 1 +
    last_byte % 3), fps = 5 * (1 + byte_length % 4), base pixel p =
    (byte[p mod n]*131 + p*7919) % 256, frame f = base shifted by
    f*(sy, sx)."""
    n = len(b)
    bb = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    w = 32 + 16 * int(bb[0] % 2)
    h = 32 + 16 * int(bb[-1] % 2)
    nf = 3 + int((bb[0] + bb[-1]) % 2)
    sx = 1 + int(bb[0] % 3)
    sy = 1 + int(bb[-1] % 3)
    p = np.arange(h * w, dtype=np.int64)
    base = ((bb[p % n] * 131 + p * 7919) % 256).reshape(h, w)
    frames = [
        _mpeg_frame(base, f, sx, sy).astype(np.uint8).tobytes() for f in range(nf)
    ]
    return (w, h, 5 * (1 + n % 4), frames), (base, sx, sy)


def _mpeg_frame(base, f, sx, sy):
    h, w = base.shape
    yy = (np.arange(h)[:, None] + f * sy) % h
    return base[yy, (np.arange(w)[None, :] + f * sx) % w]


def _mpeg_interior(h, w, sx, sy):
    """(k, y0, x0) of the INTERIOR macroblocks in raster order: those
    whose 16x16 window still fits after the shift, so they are EXACT
    translations whose best half-pel vector is (2*sy, 2*sx)."""
    grid = [(y0, x0) for y0 in range(0, h, MB) for x0 in range(0, w, MB)]
    return [
        (k, y0, x0)
        for k, (y0, x0) in enumerate(grid)
        if y0 + MB + sy <= h and x0 + MB + sx <= w
    ]


def _avc_stripe_plane(bb, n, width: int, height: int):
    """The AVC1 corpus image family (SQL-recomputable): 4-px-wide
    VERTICAL stripes, stripe bx = value (byte[bx mod n]*131 +
    bx*7919) % 256, identical down every row. Each 4x4 block is
    CONSTANT, so by the exhaustively-pinned constant-residual
    exactness at qp <= 11 the whole closed loop is LOSSLESS and the
    mode field is forced: block (0,0) has no neighbors (DC), the rest
    of block-row 0 ties HOR/DC at equal SAD and the lower index wins
    (HOR), and every block below row 0 sees an EXACT vertical
    predictor (SAD 0 -> VERT, the lowest index). pixel_sum is then
    height * 4 * sum(v)."""
    nbx = width // 4
    bx = np.arange(nbx, dtype=np.int64)
    v = (bb[bx % n] * 131 + bx * 7919) % 256
    return np.repeat(v, 4)[None, :].repeat(height, axis=0).astype(
        np.uint8
    ), v


def _avc_gen(b):
    """AVC1/AVCC: width/height = 32 + 16*(first/last byte % 2), qp =
    (first_byte*7 + last_byte) % 12 — both qP//6 shift banks and every
    qP%6 table column across the corpus."""
    bb = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
    width = 32 + 16 * int(bb[0] % 2)
    height = 32 + 16 * int(bb[-1] % 2)
    qp = (int(bb[0]) * 7 + int(bb[-1])) % 12
    img, v = _avc_stripe_plane(bb, len(b), width, height)
    return (width, height, qp, img.tobytes()), (img, v, qp)


# ---------------------------------------------------------------------------
# Generation-time corpus contracts, contract(doc_id, src, enc, decoded)
# with enc the encoder's return value (ADVICE r10): the oracles hardcode
# the designed values (within_tolerance / `compressed` TRUE, the
# designed motion and mode fields), so a doc that breaks the design
# fails loudly here, never as a silent oracle mismatch.


def _rc_contract(doc_id, payload, blob, _out):
    # Too short/high-entropy to beat 8 bits/byte under the fresh model.
    if len(blob) - 12 >= len(payload):
        raise ValueError(
            f"RC01 corpus contract violated (doc_id={doc_id}): code "
            f"{len(blob) - 12} B did not compress payload {len(payload)} B"
        )


def _mpeg_contract(doc_id, src, enc, _out):
    # From the ENCODER's closed-loop state: every interior P-frame
    # macroblock carries the designed EVEN half-pel vector (a SAD tie, a
    # search bug or a half-pel "improvement" on an exact match fails
    # here), and reconstruction stays within MPEG_TOL.
    base, sx, sy = src
    _, mvs, errs = enc
    interior = _mpeg_interior(*base.shape, sx, sy)
    for f in range(1, len(mvs)):
        for k, y0, x0 in interior:
            if mvs[f][k] != (2 * sy, 2 * sx):
                raise ValueError(
                    f"MPV1 corpus contract violated (doc_id={doc_id}, frame {f}, "
                    f"mb ({y0},{x0})): half-pel mv {mvs[f][k]} != designed "
                    f"({2 * sy}, {2 * sx})"
                )
    for f, err in enumerate(errs):
        if err > MPEG_TOL:
            raise ValueError(
                f"MPV1 corpus contract violated (doc_id={doc_id}, frame {f}): "
                f"max abs err {err} > MPEG_TOL {MPEG_TOL}"
            )


def _mau1_contract(doc_id, samples, _enc, out):
    err = int(np.abs(np.asarray(out[4]) - samples).max())
    if err > MAU_TOL:
        raise ValueError(
            f"MAU1 corpus contract violated (doc_id={doc_id}): "
            f"max abs err {err} > MAU_TOL {MAU_TOL}"
        )


def _mau2_contract(doc_id, samples, _enc, out):
    # A perceptual allocator controls noise ENERGY, not peak error: an
    # absolute cap AND an SNR floor.
    expected = samples.astype(np.float64)
    noise = np.asarray(out[4], dtype=np.float64) - expected
    err = int(np.abs(noise).max())
    sig = float((expected**2).sum())
    snr = 10.0 * np.log10(sig / max(float((noise**2).sum()), 1e-12))
    if err > MAU2_TOL or snr < MAU2_SNR_FLOOR_DB:
        raise ValueError(
            f"MAU2 corpus contract violated (doc_id={doc_id}): err {err} "
            f"(tol {MAU2_TOL}), snr {snr:.1f} dB (floor {MAU2_SNR_FLOOR_DB})"
        )


def _designed_modes(modes):
    """The stripe corpus's forced mode field: DC once, HOR across
    block-row 0, VERT everywhere below."""
    return (
        modes[0, 0] == DC
        and (modes[0, 1:] == HOR).all()
        and (modes[1:, :] == VERT).all()
    )


def _avc_contract(doc_id, src, enc, _out):
    img, _, qp = src
    _, modes, recon = enc
    if not _designed_modes(modes):
        raise ValueError(
            f"AVC1 corpus contract violated (doc_id={doc_id}): "
            "mode field departs from the designed DC/HOR/VERT layout"
        )
    if not (recon == img).all():
        raise ValueError(
            f"AVC1 corpus contract violated (doc_id={doc_id}): "
            f"stripe reconstruction not exact at qp={qp}"
        )


# H.264 MF table, position class a, per qP % 6.
_MF_A = (13107, 11916, 10082, 9362, 8192, 7282)


def _avcc_contract(doc_id, src, enc, _out):
    # Beyond the AVC1 field: constant residuals quantize to at most ONE
    # DC coefficient, so only row-0 blocks carry coefficients, and
    # whether a stripe does is closed-form from the MF table and the
    # intra offset.
    img, v, qp = src
    _, modes, recon, tc = enc
    if not (_designed_modes(modes) and (tc[1:, :] == 0).all()):
        raise ValueError(
            f"AVCC corpus contract violated (doc_id={doc_id}): "
            "mode/TotalCoeff field departs from the designed layout"
        )
    if not (recon == img).all():
        raise ValueError(
            f"AVCC corpus contract violated (doc_id={doc_id}): "
            f"stripe reconstruction not exact at qp={qp}"
        )
    qbits = 15 + qp // 6
    r = np.empty(len(v), dtype=np.int64)
    r[0] = v[0] - 128
    r[1:] = v[1:] - v[:-1]
    mag = (np.abs(16 * r) * _MF_A[qp % 6] + (1 << qbits) // 3) >> qbits
    lv = np.sign(16 * r) * mag
    if int((lv != 0).sum()) != int(tc.sum()):
        raise ValueError(
            f"AVCC corpus contract violated (doc_id={doc_id}): "
            "TotalCoeff departs from the closed-form stripe prediction"
        )


# ---------------------------------------------------------------------------
# Summaries, summarize(doc_id, src, decoded) -> rows: everything
# reported is recovered from the decoded bytes; src only bounds a lossy
# reconstruction. A column a contract certifies is emitted as TRUE.


def _png_meta(doc_id, _src, out):
    w, h, ch, px = out
    return [(doc_id, w, h, ch, w * h, sum(px))]


def _png_adam7_meta(doc_id, _src, out):
    # pixel_sum is permutation-invariant; the position-weighted digest
    # catches a pass scattered onto the wrong raster cells.
    arr = np.frombuffer(out[3], dtype=np.uint8).astype(np.int64)
    wsum = int(((np.arange(arr.size, dtype=np.int64) % ADAM7_W_MOD + 1) * arr).sum())
    return [_png_meta(doc_id, _src, out)[0] + (wsum,)]


def _ahash60(px: bytes) -> int:
    """Average hash: bit i set iff px[i] * n >= sum(px) (the exact
    integer mean compare, reproducible in SQL), first 60 bytes."""
    n, s = len(px), sum(px)
    return sum(1 << i for i in range(min(60, n)) if px[i] * n >= s)


def _png_ahash(doc_id, _src, out):
    w, h, ch, px = out
    return [(doc_id, w, h, ch, _ahash60(px))]


def _jpeg_rows(doc_id, expected, out):
    w, h, ch, px = out
    got = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
    err = int(np.abs(got - expected).max())
    return [(doc_id, w, h, ch, w * h, bool(err <= JPEG_TOL))]


def _wav_meta(doc_id, _src, out):
    rate, channels, bits, n_frames, samples = out
    ssum = int(samples.astype("int64").sum())
    return [(doc_id, rate, channels, bits, n_frames, ssum)]


def _wav_envelope(doc_id, _src, out):
    # Per channel, frames group into blocks of 4 and each block reports
    # its MAX (integer-exact in SQL, no division hazard).
    rate, channels, _bits, n_frames, samples = out
    frames = samples.astype(np.int64).reshape(n_frames, channels)
    n_blocks = (n_frames + 3) // 4
    pad = n_blocks * 4 - n_frames
    if pad:
        # -32768 is the int16 minimum: identity for MAX, and partial
        # blocks always hold >=1 real frame.
        frames = np.vstack([frames, np.full((pad, channels), -32768, np.int64)])
    peaks = frames.reshape(n_blocks, 4, channels).max(axis=1)
    return [(doc_id, rate, channels, n_blocks, int(peaks.sum()))]


def _avi_meta(doc_id, _src, out):
    w, h, fps, nf, frames = out
    psum = sum(
        int(np.frombuffer(f, dtype=np.uint8).astype(np.int64).sum()) for f in frames
    )
    return [(doc_id, w, h, fps, nf, psum)]


def _avi_motion(doc_id, _src, out):
    # motion_sum = exact L1 delta between consecutive frames.
    nf, frames = out[3], out[4]
    stack = np.stack([np.frombuffer(f, np.uint8) for f in frames]).astype(np.int64)
    motion = int(np.abs(stack[1:] - stack[:-1]).sum()) if nf > 1 else 0
    return [(doc_id, nf, max(nf - 1, 0), motion)]


def _avi_frame_ahash(doc_id, _src, out):
    w, h, _fps, _nf, frames = out
    return [(doc_id, fi, w, h, _ahash60(fb)) for fi, fb in enumerate(frames)]


def _gif_meta(doc_id, _src, out):
    # rgb_sum maps every index through the palette read from the file.
    w, h, palette, indices = out
    idx = np.frombuffer(indices, dtype=np.uint8).astype(np.int64)
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(256, 3).astype(np.int64)
    pos = np.arange(idx.size, dtype=np.int64)
    rgb = int(pal.sum(axis=1)[idx].sum())
    return [(doc_id, w, h, idx.size, int(idx.sum()), int((pos * idx).sum()), rgb)]


def _adpcm_rows(doc_id, expected, out):
    rate, n_samples, n_blocks, dec = out
    got = np.asarray(dec, dtype=np.int64)
    ok = int(np.abs(got - expected).max()) <= ADPCM_TOL
    return [(doc_id, rate, n_blocks, n_samples, int(got[0]), bool(ok))]


def _mjpeg_frames(doc_id, base, out):
    # One row per FRAME, each bounded against its own regenerated source.
    w, h, fps, nf, frames = out
    rows = []
    for f, px in enumerate(frames):
        got = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
        err = int(np.abs(got - (base + f * 11) % 256).max())
        rows.append((doc_id, f, w, h, nf, fps, bool(err <= JPEG_TOL)))
    return rows


def _payload_sums(payload: bytes):
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    pos = np.arange(arr.size, dtype=np.int64)
    return arr.size, int(arr.sum()), int((pos * arr).sum()), adler32_spec(payload)


def _deflate_payload(doc_id, _src, out):
    payload, btypes = out
    return [(doc_id, *_payload_sums(payload), set(btypes) == {0, 1, 2})]


def _rc_payload(doc_id, _src, payload):
    return [(doc_id, *_payload_sums(payload), True)]  # compressed: contract


def _flac_meta(doc_id, _src, out):
    sr, n, nf, samples = out
    arr = np.asarray(samples, dtype=np.int64)
    pos = np.arange(arr.size, dtype=np.int64)
    # md5_ok: decode() verified the STREAMINFO MD5 (raised otherwise).
    return [(doc_id, sr, n, nf, int(arr.sum()), int((pos * arr).sum()), True)]


def _mpeg_frames(doc_id, src, out):
    # (mv_dy, mv_dx) = the FIRST interior macroblock's decoded vector in
    # full-pel units (floor of the half-pel vector; exact translations
    # are even), n_interior = interior vectors equal to the designed
    # shift, within_tolerance = the closed-loop reconstruction bound.
    base, sx, sy = src
    w, h, fps, nf, frames, mvs = out
    interior = _mpeg_interior(h, w, sx, sy)
    rows = []
    for f in range(nf):
        got = np.frombuffer(frames[f], dtype=np.uint8).astype(np.int64).reshape(h, w)
        err = int(np.abs(got - _mpeg_frame(base, f, sx, sy)).max())
        ftype, mv_dx, mv_dy, n_int = "I", 0, 0, 0
        if f:
            ftype = "P"
            mv_dy, mv_dx = (d >> 1 for d in mvs[f][interior[0][0]])
            n_int = sum(mvs[f][k] == (2 * sy, 2 * sx) for k, _, _ in interior)
        n_mb = (w // MB) * (h // MB)
        ok = bool(err <= MPEG_TOL)
        rows.append((doc_id, f, ftype, w, h, nf, n_mb, n_int, mv_dx, mv_dy, ok))
    return rows


def _mau1_meta(doc_id, _src, out):
    return [(doc_id, *out[:4], True)]  # within_tolerance: contract


def _mau2_meta(doc_id, _src, out):
    return [(doc_id, *out[:4], True, True)]  # within_tolerance, snr_ok: contract


def _avc_stats(img, recon, modes):
    """Mode counts (VERT, HOR, DC), pixel_sum, recon_exact and
    within_tolerance of a decoded plane against the stripe source."""
    err = int(np.abs(recon.astype(np.int64) - img.astype(np.int64)).max())
    return (
        int((modes == VERT).sum()),
        int((modes == HOR).sum()),
        int((modes == DC).sum()),
        int(recon.astype(np.int64).sum()),
        bool(err == 0),
        bool(err <= AVC_TOL),
    )


def _avc_intra(doc_id, src, out):
    width, height, qp, recon, modes = out
    stats = _avc_stats(src[0], recon, modes)
    return [(doc_id, width, height, qp, int(modes.size), *stats)]


def _avc_cavlc(doc_id, src, out):
    width, height, qp, recon, modes, tc = out
    stats = _avc_stats(src[0], recon, modes)
    return [(doc_id, width, height, qp, int(modes.size), int(tc.sum()), *stats)]


# ---------------------------------------------------------------------------
# The table, and the one operator that runs a rung.


class Rung(NamedTuple):
    """One codec-ladder rung: gen(text_bytes) -> (encoder args, src);
    encode/decode are the codec's functions (a stats encoder returns
    (blob, *closed-loop stats)); summarize(doc_id, src, decoded) ->
    rows of `schema`. `repartition` takes the deliberate round-robin
    repartition(defaultParallelism): a CPU-bound codec over a
    single-file corpus would otherwise plan as ONE input partition and
    serialize on one core (the header-light PNG/WAV/AVI trilogy stays
    Exchange-free). `nonempty` rejects empty text (an oracle's
    UNNEST(range(0, n)) emits no row for it); `contract(doc_id, src,
    enc, decoded)` is the rung's extra generation-time contract."""

    gen: Callable
    encode: Callable
    decode: Callable
    summarize: Callable
    schema: str
    repartition: bool = False
    nonempty: bool = False
    contract: Callable | None = None


_AVC_SCHEMA = "doc_id long, width int, height int, qp int, n_blocks int, "
_AVC_MODES = (
    "n_mode0 int, n_mode1 int, n_mode2 int, pixel_sum long, "
    "recon_exact boolean, within_tolerance boolean"
)
_MAU_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, n_frames int, "
    "first_sample int, within_tolerance boolean"
)
_PAYLOAD_SCHEMA = "doc_id long, n_bytes long, byte_sum long, pos_weighted_sum long, "

RUNGS = {
    "png": Rung(_png_small, png_encode, png_decode, _png_meta, DECODE_SCHEMA),
    "png_ahash": Rung(
        _png_small, png_encode, png_decode, _png_ahash,
        "doc_id long, width int, height int, channels int, ahash long",
    ),
    "png_filtered": Rung(
        _png_ladder(7, 13), png_encode, png_decode, _png_meta, DECODE_SCHEMA,
        repartition=True,
    ),
    "png_adam7": Rung(
        _png_ladder(5, 11), png_encode_adam7, png_decode, _png_adam7_meta,
        DECODE_SCHEMA + ", pos_weighted_sum long", repartition=True,
    ),
    "jpeg": Rung(
        _jpeg_gen, jpeg_encode, jpeg_decode, _jpeg_rows,
        "doc_id long, width int, height int, channels int, "
        "n_pixels long, within_tolerance boolean",
        repartition=True,
    ),
    "wav": Rung(
        _wav_gen, wav_encode, wav_decode, _wav_meta,
        "doc_id long, sample_rate int, channels int, bit_depth int, "
        "n_frames long, sample_sum long",
    ),
    "wav_envelope": Rung(
        _wav_gen, wav_encode, wav_decode, _wav_envelope,
        "doc_id long, sample_rate int, channels int, n_blocks long, envelope_sum long",
    ),
    "avi": Rung(
        _avi_gen, avi_encode, avi_decode, _avi_meta,
        "doc_id long, width int, height int, fps int, n_frames long, pixel_sum long",
    ),
    "avi_motion": Rung(
        _avi_gen, avi_encode, avi_decode, _avi_motion,
        "doc_id long, n_frames long, n_transitions long, motion_sum long",
    ),
    "avi_frame_ahash": Rung(
        _avi_gen, avi_encode, avi_decode, _avi_frame_ahash,
        "doc_id long, frame_idx int, width int, height int, ahash long",
    ),
    "gif": Rung(
        _gif_gen, gif_encode, gif_decode, _gif_meta,
        "doc_id long, width int, height int, n_px long, "
        "index_sum long, pos_weighted_sum long, rgb_sum long",
        repartition=True,
    ),
    "adpcm": Rung(
        _adpcm_gen, adpcm_wav_encode, adpcm_wav_decode, _adpcm_rows,
        "doc_id long, sample_rate int, n_blocks int, n_samples long, "
        "first_sample int, within_tolerance boolean",
        repartition=True,
    ),
    "mjpeg": Rung(
        _mjpeg_gen, _mjpeg_encode, mjpeg_avi_decode, _mjpeg_frames,
        "doc_id long, frame_idx int, width int, height int, "
        "n_frames int, fps int, within_tolerance boolean",
        repartition=True,
    ),
    "deflate": Rung(
        _deflate_gen, zlib_multiblock_compress, zlib_inflate, _deflate_payload,
        _PAYLOAD_SCHEMA + "adler32 long, has_all_btypes boolean",
        repartition=True, nonempty=True,
    ),
    "flac": Rung(
        _flac_gen, flac_encode, flac_decode, _flac_meta,
        "doc_id long, sample_rate int, n_samples long, n_frames int, "
        "sample_sum long, pos_weighted_sum long, md5_ok boolean",
        repartition=True, nonempty=True,
    ),
    "arith": Rung(
        _rc_gen, rc_encode, rc_decode, _rc_payload,
        _PAYLOAD_SCHEMA + "adler32 long, compressed boolean",
        repartition=True, nonempty=True, contract=_rc_contract,
    ),
    "mpeg": Rung(
        _mpeg_gen, mpeg_encode_stats, mpeg_decode, _mpeg_frames,
        "doc_id long, frame_idx int, frame_type string, width int, "
        "height int, n_frames int, n_mb int, n_interior int, "
        "mv_dx int, mv_dy int, within_tolerance boolean",
        repartition=True, nonempty=True, contract=_mpeg_contract,
    ),
    "mau1": Rung(
        _mau_gen, mau_encode, mau_decode, _mau1_meta, _MAU_SCHEMA,
        repartition=True, nonempty=True, contract=_mau1_contract,
    ),
    "mau2": Rung(
        _mau_gen, mau2_encode, mau2_decode, _mau2_meta,
        _MAU_SCHEMA + ", snr_ok boolean",
        repartition=True, nonempty=True, contract=_mau2_contract,
    ),
    "avc": Rung(
        _avc_gen, avc_encode_stats, avc_decode, _avc_intra, _AVC_SCHEMA + _AVC_MODES,
        repartition=True, nonempty=True, contract=_avc_contract,
    ),
    "avcc": Rung(
        _avc_gen, avcc_encode_stats, avcc_decode, _avc_cavlc,
        _AVC_SCHEMA + "total_coeff_sum long, " + _AVC_MODES,
        repartition=True, nonempty=True, contract=_avcc_contract,
    ),
}


def run_rung(docs: DataFrame, rung: Rung) -> DataFrame:
    """The rung's rows from (doc_id, text): select -> optional
    round-robin repartition -> ONE mapInPandas running the shared
    corpus checks, then gen -> encode -> decode -> contract ->
    summarize per document. The blob never leaves the worker (the
    fused-operator shape: the intermediate is never materialized)."""
    gen, encode, decode, summarize, schema, repartition, nonempty, contract = rung
    columns = [f.split()[0] for f in schema.split(",")]

    def op(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("utf-8")
                if len(b) != len(text):
                    # The SQL oracles index text by CHARACTER
                    # (ascii(substr)) while gen indexes UTF-8 BYTES —
                    # identical only for ASCII. A non-ASCII doc must
                    # raise loudly, never silently diverge from the
                    # oracle (ADVICE r8; corpus ASCII-ness is also
                    # pinned in tests/test_multimodal.py).
                    raise ValueError(
                        f"non-ASCII document text (doc_id={doc_id}): "
                        "byte-indexed blob generation requires the "
                        "ASCII corpus contract"
                    )
                if nonempty and not b:
                    raise ValueError(
                        f"empty document text (doc_id={doc_id}): "
                        "byte-indexed blob generation requires a "
                        "non-empty corpus"
                    )
                args, src = gen(b)
                enc = encode(*args)
                out = decode(enc[0] if isinstance(enc, tuple) else enc)
                if contract is not None:
                    contract(doc_id, src, enc, out)
                rows.extend(summarize(doc_id, src, out))
            yield pd.DataFrame(rows, columns=columns)

    src = docs.select("doc_id", "text")
    if repartition:
        src = src.repartition(src.sparkSession.sparkContext.defaultParallelism)
    return src.mapInPandas(op, schema)
