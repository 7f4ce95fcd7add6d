"""Multimodal (image/audio/video) column plumbing: opaque binary
columns + typed metadata, decoded / feature-extracted via Arrow-batched
mapInPandas (north-star surface; BASELINE.json).

Every codec is REAL and self-contained (stdlib + numpy, no media
libraries): uncompressed PNG/WAV/AVI and MJPEG-in-AVI (blobs.py),
baseline JPEG (jpeg.py), GIF/LZW (gif.py), IMA ADPCM (adpcm.py),
DEFLATE/zlib inflate (inflate.py), FLAC (flac.py), adaptive
arithmetic coding (rangecoder.py), motion-compensated MPV1
(mpeg.py), MDCT perceptual audio MAU1/MAU2 (mdct.py) and H.264-style
AVC intra with CAVLC (avc.py, cavlc.py). blobs.RUNGS lists the codec
ladder as data — generator, encoder, decoder, summary, contract —
and blobs.run_rung runs any rung as one fused mapInPandas; DuckDB
oracles recompute what a correct decoder must report (queries.py).
"""
