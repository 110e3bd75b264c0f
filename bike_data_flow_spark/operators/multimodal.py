"""Multimodal column operators (north-star extension).

Images/audio/video are opaque `binary` columns plus typed metadata
structs. The Spark-side plumbing — schemas, Arrow-batched
`mapInPandas` iteration, partition-size control — is real and tested.
``_decode_image_bytes`` REALLY decodes the uncompressed formats a
pure-Python parser can handle (Netpbm P5/P6, 24-bit BMP); compressed
formats fall back to a clearly-marked deterministic fake (PIL/libvips
are not in this container) so the pipeline shape stays verifiable
end-to-end for arbitrary bytes.

Scale notes: mapInPandas streams Arrow record batches, so a 100 TB
corpus of ~1 MB blobs never materializes more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` blobs per worker at a
time; repartition upstream on size so a batch of blobs fits executor
memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _hamming_band_pairs

IMAGE_FEATURES_DDL = (
    "media_id string, n_bytes int, sha1 string, "
    "decoded_width int, decoded_height int, mean_luma double"
)


def _netpbm_header(blob: bytes) -> tuple[bool, int, int, int, int]:
    """Parse the binary Netpbm header ONCE for every consumer (mean
    luma, pixel grids, resize): magic, whitespace/#-comment separated
    width height maxval, single whitespace byte. Returns
    (gray, w, h, maxval, pixel_offset)."""
    if blob[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary Netpbm image")
    gray = blob[:2] == b"P5"
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos] not in (10, 13):
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    w, h, maxval = fields
    if w <= 0 or h <= 0:
        raise ValueError("zero-area Netpbm image")
    if maxval > 255:
        raise ValueError("16-bit Netpbm not supported")
    pos += 1  # exactly one whitespace byte after maxval
    return gray, w, h, maxval, pos


def _decode_ppm(blob: bytes) -> tuple[int, int, float]:
    """REAL decoder for binary PPM/PGM (P6/P5, maxval ≤ 255) — the
    uncompressed Netpbm format needs no codec library, just the header
    grammar (see _netpbm_header). Luma is Rec.601
    (0.299 R + 0.587 G + 0.114 B), averaged over all pixels."""
    gray, w, h, _maxval, pos = _netpbm_header(blob)
    n = w * h
    px = blob[pos : pos + n * (1 if gray else 3)]
    if len(px) < n * (1 if gray else 3):
        raise ValueError("truncated PPM pixel data")
    if gray:
        luma = sum(px) / n
    else:
        luma = (
            0.299 * sum(px[0::3]) + 0.587 * sum(px[1::3]) + 0.114 * sum(px[2::3])
        ) / n
    return w, h, luma


def _decode_bmp(blob: bytes) -> tuple[int, int, float]:
    """REAL decoder for uncompressed 24-bit BMP (BITMAPINFOHEADER):
    little-endian header fields, BGR pixel rows padded to 4 bytes,
    bottom-up unless height is negative. Rec.601 mean luma."""
    import struct

    if len(blob) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", blob, 10)[0]
    w, h = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    compression = struct.unpack_from("<I", blob, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    h = abs(h)  # row order doesn't change the mean
    if w <= 0 or h == 0:
        raise ValueError("zero-area BMP image")
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundary
    acc = 0.0
    for r in range(h):
        row = blob[data_off + r * row_bytes : data_off + r * row_bytes + w * 3]
        if len(row) < w * 3:
            raise ValueError("truncated BMP pixel data")
        # BGR order on disk
        acc += 0.114 * sum(row[0::3]) + 0.587 * sum(row[1::3]) + 0.299 * sum(row[2::3])
    return w, h, acc / (w * h)


def _decode_image_bytes(blob: bytes) -> tuple[int, int, float]:
    """Dispatch: REAL pure-Python decode for Netpbm (P5/P6) and 24-bit
    uncompressed BMP; every other format falls back to a clearly-marked
    deterministic FAKE (PIL/libvips are not in this container) so the
    Arrow-batched plumbing stays testable end-to-end for arbitrary
    bytes. Raises on empty blobs like a real decoder would."""
    if not blob:
        raise ValueError("empty media payload")
    if blob[:2] in (b"P5", b"P6"):
        return _decode_ppm(blob)
    if blob[:2] == b"BM":
        return _decode_bmp(blob)
    # FAKE path: width/height from first/last byte, "luma" from byte-sum
    w = 1 + blob[0] % 64
    h = 1 + blob[-1] % 64
    luma = (sum(blob[:256]) % 25600) / 100.0
    return w, h, luma


def extract_image_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary image content."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob) if blob is not None else b""
                try:
                    w, h, luma = _decode_image_bytes(blob)
                except ValueError:
                    w = h = None
                    luma = None
                rows.append(
                    {
                        "media_id": mid,
                        "n_bytes": len(blob),
                        "sha1": hashlib.sha1(blob).hexdigest(),
                        "decoded_width": w,
                        "decoded_height": h,
                        "mean_luma": luma,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(run, IMAGE_FEATURES_DDL)


def with_byte_stats(df: DataFrame) -> DataFrame:
    """Metadata that needs no decode: pure JVM expressions."""
    return df.withColumns(
        {
            "n_bytes_actual": F.length(F.col("content")),
            "content_sha2": F.sha2(F.col("content"), 256),
            "is_empty": F.col("content").isNull() | (F.length(F.col("content")) == 0),
        }
    )


def sample_frames(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits (media_id, frame_idx)
    pairs without decoding — the decode stub slots into the same
    mapInPandas shape as extract_image_features."""
    n_frames = (F.length(F.col("content")) / every_nth).cast("int")
    return df.filter(F.col("media_type") == "video").select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))).alias(
            "frame_idx"
        ),
    )


# ---------------------------------------------------------------------------
# Audio (REAL for uncompressed PCM WAV — RIFF header grammar needs no
# codec library) and image resize (REAL for Netpbm — re-emits a valid
# P5/P6 payload). Compressed formats keep the deterministic-fake
# contract of _decode_image_bytes.
# ---------------------------------------------------------------------------

AUDIO_FEATURES_DDL = (
    "media_id string, n_bytes int, sample_rate int, n_channels int, "
    "duration_s double, rms double"
)


def _wav_chunks(blob: bytes) -> tuple[int, int, int, bytes]:
    """Walk the RIFF chunk list ONCE for every consumer: returns
    (sample_rate, n_channels, bits, data_bytes) with the LAST fmt/data
    chunk winning (consumers must agree on WHICH bytes are the audio —
    a split walk that stopped at the first data chunk would fingerprint
    different samples than the decoder validated)."""
    import struct

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid, size = blob[pos : pos + 4], struct.unpack_from("<I", blob, pos + 4)[0]
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # struct.error is not a ValueError
                raise ValueError("truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"unsupported WAV (fmt={audio_fmt}, bits={bits})")
    if n_ch == 0 or rate == 0:
        raise ValueError("zero channels/sample-rate")
    return rate, n_ch, bits, data


def _decode_wav(blob: bytes) -> tuple[int, int, int, float]:
    """REAL decoder for PCM 16-bit WAV (RIFF little-endian): walks the
    chunk list for fmt / data, returns (sample_rate, n_channels,
    n_frames, rms) with RMS over all samples normalized to [-1, 1]."""
    rate, n_ch, _bits, data = _wav_chunks(blob)
    n_samples = len(data) // 2
    if n_samples == 0:
        raise ValueError("empty data chunk")
    import array

    samples = array.array("h")
    samples.frombytes(data[: n_samples * 2])
    acc = 0.0
    for s in samples:
        x = s / 32768.0
        acc += x * x
    rms = (acc / n_samples) ** 0.5
    return rate, n_ch, n_samples // n_ch, rms


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction: REAL for PCM WAV,
    deterministic fake for compressed codecs (same contract as the
    image path)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob) if blob is not None else b""
                try:
                    rate, n_ch, n_frames, rms = _decode_wav(blob)
                except ValueError:
                    if not blob:
                        rate = n_ch = n_frames = None
                        rms = None
                    else:  # FAKE path, clearly deterministic from bytes
                        rate, n_ch = 8000 + (blob[0] % 4) * 8000, 1 + blob[-1] % 2
                        n_frames = max(1, len(blob) // 4)
                        rms = (sum(blob[:64]) % 6400) / 6400.0
                rows.append(
                    {
                        "media_id": mid,
                        "n_bytes": len(blob),
                        "sample_rate": rate,
                        "n_channels": n_ch,
                        "duration_s": (
                            round(n_frames / rate, 6) if rate else None
                        ),
                        "rms": round(rms, 6) if rms is not None else None,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(run, AUDIO_FEATURES_DDL)


RESIZED_DDL = "media_id string, content binary, width int, height int, resized boolean"


def _resize_netpbm(blob: bytes, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize for P5/P6, re-emitting a valid payload
    with the same magic and maxval 255."""
    gray, w, h, _maxval, pos = _netpbm_header(blob)
    _decode_ppm(blob)  # validates pixel-data length too
    ch = 1 if gray else 3
    px = blob[pos:]
    out = bytearray()
    for y in range(out_h):
        sy = y * h // out_h
        for x in range(out_w):
            sx = x * w // out_w
            off = (sy * w + sx) * ch
            out += px[off : off + ch]
    header = (b"P5" if gray else b"P6") + b"\n%d %d\n255\n" % (out_w, out_h)
    return header + bytes(out)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Arrow-batched resize: REAL nearest-neighbor for Netpbm payloads
    (output re-decodes to (out_w, out_h)); other formats pass through
    unchanged with resized=false — the honest behavior when no codec
    library exists, rather than fabricating bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(blob) if blob is not None else b""
                if blob[:2] in (b"P5", b"P6"):
                    try:
                        content = _resize_netpbm(blob, out_w, out_h)
                        rows.append(
                            {
                                "media_id": mid,
                                "content": content,
                                "width": out_w,
                                "height": out_h,
                                "resized": True,
                            }
                        )
                        continue
                    except ValueError:
                        pass
                rows.append(
                    {
                        "media_id": mid,
                        "content": blob or None,
                        "width": None,
                        "height": None,
                        "resized": False,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(run, RESIZED_DDL)


# --- perceptual (average-hash) image dedup ----------------------------------

AHASH_GRID = 8  # 8x8 luma cells -> 64-bit signature
AHASH_BLOCKS = 8  # 8 bands of 8 bits: pigeonhole-exact for hamming <= 7
AHASH_MAX_HAMMING = 7


def _netpbm_pixels(blob: bytes):
    """Netpbm (P5/P6, maxval <= 255) -> (h, w, luma ndarray float64).
    Same header grammar as _decode_ppm, but returns the full Rec.601
    luma plane instead of its mean (the perceptual hash needs spatial
    structure, not just brightness)."""
    import numpy as np

    gray, w, h, _maxval, pos = _netpbm_header(blob)
    n = w * h
    want = n * (1 if gray else 3)
    px = np.frombuffer(blob, dtype=np.uint8, count=want, offset=pos)
    if px.size < want:
        raise ValueError("truncated Netpbm pixel data")
    if gray:
        luma = px.astype(np.float64).reshape(h, w)
    else:
        rgb = px.astype(np.float64).reshape(h, w, 3)
        luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    return h, w, luma


def _ahash64(blob: bytes, grid: int = AHASH_GRID) -> int | None:
    """Classic average hash: average-pool the luma plane into a
    grid×grid cell matrix, set bit i when cell i >= the mean of all
    cells, pack row-major into a SIGNED 64-bit int (two's complement —
    Spark LongType). None for non-Netpbm payloads (no codec libraries
    in this container; compressed formats would slot in here)."""
    import numpy as np

    try:
        h, w, luma = _netpbm_pixels(blob)
    except ValueError:
        return None
    if h < 1 or w < 1:
        return None
    # O(pixels) pooling that tolerates non-divisible sizes: each pixel
    # row/col maps to cell floor(i*grid/dim)
    r_idx = (np.arange(h) * grid) // h
    c_idx = (np.arange(w) * grid) // w
    sums = np.zeros((grid, grid))
    counts = np.zeros((grid, grid))
    np.add.at(sums, (r_idx[:, None], c_idx[None, :]), luma)
    np.add.at(counts, (r_idx[:, None], c_idx[None, :]), 1.0)
    empty = counts == 0
    if empty.any():
        # image smaller than the grid in some dimension: empty cells
        # take the nearest pixel (upsample), matching the resize
        # semantics classic aHash gets from its interpolating scaler
        rr = (np.arange(grid) * h) // grid
        cc = (np.arange(grid) * w) // grid
        nearest = luma[rr[:, None], cc[None, :]]
        sums[empty] = nearest[empty]
        counts[empty] = 1.0
    cells = (sums / counts).ravel()
    return _pack_bits64(cells >= cells.mean())


def _pack_bits64(bits) -> int:
    """Pack ≤64 booleans row-major into a SIGNED 64-bit int (two's
    complement — Spark LongType), bit i = bits[i]."""
    import numpy as np

    packed = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            packed |= np.uint64(1) << np.uint64(i)
    return int(packed.astype(np.int64))


def _media_hashes(df: DataFrame, hash_fn, id_col: str, content_col: str) -> DataFrame:
    """Shared mapInPandas pipeline for every 64-bit perceptual
    signature: map-only, no shuffle; payloads ``hash_fn`` returns None
    for yield NULL and are dropped (they cannot perceptually collide).
    The output column is named ``ahash`` regardless of modality so
    perceptual_near_pairs consumes any of them unchanged."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "ahash": [
                        hash_fn(bytes(b)) if b is not None else None
                        for b in pdf[content_col]
                    ],
                }
            ).astype({"ahash": "Int64"})

    out_schema = f"{id_col} string, ahash long"
    return df.select(id_col, content_col).mapInPandas(run, out_schema).filter(
        F.col("ahash").isNotNull()
    )


def perceptual_hashes(
    df: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """(id, ahash) per decodable image — see _media_hashes."""
    return _media_hashes(df, _ahash64, id_col, content_col)


def perceptual_near_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = AHASH_MAX_HAMMING,
) -> DataFrame:
    """Near-duplicate image (or audio) pairs by Hamming distance over
    the 64-bit average hash: the SimHash band join
    (dedup._hamming_band_pairs) on AHASH_BLOCKS 8-bit blocks, so it is
    pigeonhole-exact for ``max_hamming`` ≤ 7 and a wider radius raises.
    The keyed frame it caches holds the decoded hashes, so an upstream
    mapInPandas decode runs once; the cache lives as long as the
    session's LRU keeps it (the result is lazy)."""
    return _hamming_band_pairs(hashes, id_col, "ahash", 64, AHASH_BLOCKS, max_hamming)


def _audio_fingerprint64(blob: bytes, frames: int = 64) -> int | None:
    """64-bit energy-contour fingerprint for PCM WAV: mix to mono,
    split the sample stream into 64 equal time frames, set bit i when
    frame i's RMS energy >= the mean frame energy — the audio analogue
    of the image average hash (robust to volume scaling by construction
    of the mean threshold, and to small edits by frame granularity).
    None for non-WAV payloads, same contract as _ahash64."""
    import numpy as np

    try:
        _rate, n_ch, _bits, data = _wav_chunks(blob)
    except ValueError:
        return None
    n = (len(data) // 2) // n_ch * n_ch
    if n == 0:
        return None
    s = np.frombuffer(data, dtype="<i2", count=n).astype(np.float64)
    mono = s.reshape(-1, n_ch).mean(axis=1) / 32768.0
    idx = (np.arange(mono.size) * frames) // mono.size
    energy = np.zeros(frames)
    counts = np.zeros(frames)
    np.add.at(energy, idx, mono * mono)
    np.add.at(counts, idx, 1.0)
    counts[counts == 0] = 1.0  # clips shorter than 64 samples
    cells = energy / counts
    return _pack_bits64(cells >= cells.mean())


def audio_fingerprints(
    df: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """(id, ahash) per decodable WAV clip — same column name and
    64-bit contract as perceptual_hashes, so perceptual_near_pairs
    dedups audio unchanged (banded Hamming join, pigeonhole-exact
    within AHASH_MAX_HAMMING). See _media_hashes."""
    return _media_hashes(df, _audio_fingerprint64, id_col, content_col)
