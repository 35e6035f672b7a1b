"""Pure-numpy decoders for UNCOMPRESSED media containers — real decode,
no codec libraries (same approach as the EDF reader in sources/edf.py:
fixed headers + ``np.frombuffer``):

- PCM WAV (RIFF/WAVE, fmt 1, 8/16/32-bit) — chunk walk + one frombuffer;
- BMP (BITMAPINFOHEADER, 24/32-bit uncompressed) — bottom-up padded rows
  reshaped with numpy, no per-pixel Python;
- binary PPM/PGM (P6/P5, maxval ≤ 255) — ASCII header + raw samples;
- AVI demux (RIFF LIST walk) — real container parse for frame sampling;
  per-frame decode then depends on the stream codec.

JPEG (baseline AND progressive), PNG, GIF, and uncompressed TIFF (the
formats a real corpus is mostly made of) are decoded for real by the
pure-numpy codecs in operators/{jpeg,png,gif,tiff}.py
(PNG's deflate is stdlib zlib and GIF's LZW is ~60 lines of Python, so
both decodes are complete and lossless; GIF also demuxes animations
for frame sampling, mirroring the AVI path), routed from
``decode_image`` by magic byte.  MP3, H.264, and WebP (both
profiles) now decode for real through the pure-python codecs behind
the plugin seam; each codec's documented honest residue routes to the
optional-codec seam at the bottom of this module, which decodes for
REAL when the corresponding library (Pillow / soundfile / PyAV) is
installed in the cluster image, and otherwise raises
``UnsupportedMediaError`` naming the missing extra, so the callers in
operators/multimodal.py fall back to the documented deterministic
stub (``decoded=false``).  See README "Optional media codecs".
The format sniffing is magic-byte based, so a mixed media column routes
each payload to the right path per row.
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedMediaError(ValueError):
    """Payload is a format that needs an external codec library, or a
    recognized container too malformed to parse.  The public decoders
    raise ONLY this (malformed-header struct/int errors are converted),
    so callers' stub-fallback handlers catch every decode failure."""


def _only_media_errors(fn):
    """Convert parser crashes on malformed bytes (struct.error on a lying
    size field, ValueError on a garbage ASCII header, Index/ZeroDivision
    on degenerate dimensions) into UnsupportedMediaError, preserving the
    one-exception contract the mapInPandas fallbacks rely on."""
    import functools

    @functools.wraps(fn)
    def wrapped(payload):
        try:
            return fn(payload)
        except UnsupportedMediaError:
            raise
        except (struct.error, ValueError, IndexError, ZeroDivisionError) as e:
            raise UnsupportedMediaError(f"malformed payload: {e}") from e

    return wrapped


# ---------------------------------------------------------------------------
# PCM WAV
# ---------------------------------------------------------------------------

_WAV_DTYPES = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry µ-law / A-law → linear int16 decode tables (ITU G.711,
    the classic public-domain ulaw2linear/alaw2linear algorithms),
    built once with vectorized numpy."""
    u = (~np.arange(256)) & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t = t << ((u & 0x70) >> 4)
    ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)

    a = np.arange(256) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    alaw = np.where(a & 0x80, t, -t).astype(np.int16)
    return ulaw, alaw


_ULAW_DECODE, _ALAW_DECODE = _g711_tables()

# IMA ADPCM (wav format 0x11) — public DVI/IMA spec tables
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32
)


def _ima_decode_nibbles(nibbles, predictor: int, index: int):
    """Sequential IMA ADPCM inner loop (the spec's reference algorithm);
    per-sample like every entropy decode here."""
    out = []
    for nib in nibbles:
        step = int(_IMA_STEPS[index])
        diff = step >> 3
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step >> 1
        if nib & 1:
            diff += step >> 2
        predictor = predictor - diff if nib & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        out.append(predictor)
        index = max(0, min(88, index + int(_IMA_INDEX[nib])))
    return out, predictor, index


def _decode_ima_adpcm(data: bytes, n_channels: int, block_align: int) -> np.ndarray:
    """IMA ADPCM block layout: per block, a 4-byte header per channel
    (int16 predictor, uint8 step index, reserved), then 4-byte groups
    (8 nibbles) alternating per channel."""
    if block_align < 4 * n_channels or block_align % 4:
        raise UnsupportedMediaError(f"bad ADPCM block align {block_align}")
    chans: list[list[int]] = [[] for _ in range(n_channels)]
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]  # final block may be short
        if len(block) < 4 * n_channels:
            break
        preds, idxs = [], []
        for c in range(n_channels):
            pred, idx = struct.unpack_from("<hBx", block, 4 * c)
            if idx > 88:
                raise UnsupportedMediaError(f"ADPCM step index {idx}")
            preds.append(pred)
            idxs.append(idx)
            chans[c].append(pred)  # the header predictor IS sample 0
        pos = 4 * n_channels
        while pos + 4 * n_channels <= len(block):
            for c in range(n_channels):
                grp = block[pos + 4 * c : pos + 4 * c + 4]
                nibs = []
                for byte in grp:
                    nibs.append(byte & 0x0F)
                    nibs.append(byte >> 4)
                smp, preds[c], idxs[c] = _ima_decode_nibbles(
                    nibs, preds[c], idxs[c]
                )
                chans[c].extend(smp)
            pos += 4 * n_channels
    n = min(len(c) for c in chans)
    if n == 0:
        raise UnsupportedMediaError("ADPCM data shorter than one block")
    return np.stack(
        [np.asarray(c[:n], dtype=np.int16) for c in chans], axis=1
    )


def encode_wav_ima_adpcm(
    samples: np.ndarray, sample_rate: int, block_align: int = 256
) -> bytes:
    """Minimal mono IMA ADPCM (wav format 0x11) writer — the fixture for
    the compressed-audio decode path.  ``samples`` in [-1, 1]."""
    pcm = np.clip(
        np.round(np.asarray(samples, dtype=np.float64) * 32767.0),
        -32768,
        32767,
    ).astype(np.int32)
    spb = (block_align - 4) * 2 + 1  # samples per block, mono
    blocks = bytearray()
    pos = 0
    # seed the step index from the first delta so the adaptation attack
    # doesn't start at step 7 for a loud signal
    first_diff = abs(int(pcm[1]) - int(pcm[0])) if len(pcm) > 1 else 0
    index = int(np.searchsorted(_IMA_STEPS, first_diff).clip(0, 88))
    while pos < len(pcm):
        chunk = pcm[pos : pos + spb]
        pos += spb
        pred = int(chunk[0])
        blocks += struct.pack("<hBx", pred, index)
        nibs = []
        for s in chunk[1:]:
            step = int(_IMA_STEPS[index])
            diff = int(s) - pred
            nib = 8 if diff < 0 else 0
            diff = abs(diff)
            mask = 4
            acc = step >> 3
            for shift in (0, 1, 2):
                if diff >= step >> shift:
                    nib |= mask
                    diff -= step >> shift
                    acc += step >> shift
                mask >>= 1
            pred = pred - acc if nib & 8 else pred + acc
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + int(_IMA_INDEX[nib])))
            nibs.append(nib)
        nibs += [0] * (-len(nibs) % 8)  # pad the final 4-byte group
        for i in range(0, len(nibs), 2):
            blocks.append(nibs[i] | (nibs[i + 1] << 4))
    data = bytes(blocks)
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 0x11, 1, sample_rate, sample_rate, block_align, 4
    )
    hdr += b"data" + struct.pack("<I", len(data))
    return hdr + data


@_only_media_errors
def decode_wav_pcm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a PCM RIFF/WAVE payload → (sample_rate, n_channels,
    float64 samples in [-1, 1], shape (n_frames, n_channels)).

    Chunk-walks the RIFF container (fmt/data chunks may appear in any
    order, with vendor chunks between); one vectorized ``np.frombuffer``
    decodes the sample block — no per-sample Python, mirroring the EDF
    record decode discipline."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise UnsupportedMediaError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > len(payload):
            # A declared size overrunning the payload would silently
            # truncate the sample block (decoded=true with fewer samples)
            # and a lying size skips any real chunks after it — malformed,
            # not decodable.
            raise UnsupportedMediaError(
                f"chunk {cid!r} declares {size} bytes past end of payload"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
            fmt_body = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise UnsupportedMediaError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, block_align, bits = fmt
    if audio_format == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real code in
        # the SubFormat GUID (first 2 bytes; the 14-byte tail must be
        # the fixed KSDATAFORMAT media-subtype suffix)
        if len(fmt_body) < 40:
            raise UnsupportedMediaError("extensible wav fmt chunk too short")
        if (
            fmt_body[26:40]
            != b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
        ):
            raise UnsupportedMediaError("non-standard wav SubFormat GUID")
        (audio_format,) = struct.unpack_from("<H", fmt_body, 24)
    if audio_format not in (1, 3, 6, 7, 0x11):
        raise UnsupportedMediaError(f"unsupported wav format {audio_format}")
    if n_channels < 1 or sample_rate < 1:
        raise UnsupportedMediaError(
            f"unsupported layout ({n_channels}ch, {sample_rate}Hz)"
        )
    if audio_format == 0x11:  # IMA ADPCM
        raw = _decode_ima_adpcm(data, n_channels, block_align)
        return sample_rate, n_channels, raw.astype(np.float64) / 32768.0
    if audio_format in (6, 7):  # G.711 A-law / µ-law: 8-bit companded
        if bits != 8:
            raise UnsupportedMediaError(f"{bits}-bit G.711 wav")
        table = _ALAW_DECODE if audio_format == 6 else _ULAW_DECODE
        raw = table[np.frombuffer(data, dtype=np.uint8)]
        raw = raw[: (len(raw) // n_channels) * n_channels].reshape(-1, n_channels)
        return sample_rate, n_channels, raw.astype(np.float64) / 32768.0
    if audio_format == 3:  # IEEE float PCM (32/64-bit)
        if bits not in (32, 64):
            raise UnsupportedMediaError(f"{bits}-bit float wav")
        raw = np.frombuffer(data, dtype="<f4" if bits == 32 else "<f8")
        raw = raw[: (len(raw) // n_channels) * n_channels]
        return (
            sample_rate,
            n_channels,
            raw.reshape(-1, n_channels).astype(np.float64),
        )
    if bits == 24:  # packed 3-byte little-endian, sign-extended
        b = np.frombuffer(
            data[: len(data) - len(data) % 3], dtype=np.uint8
        ).reshape(-1, 3).astype(np.int32)
        vals = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        vals -= (vals & 0x800000) << 1  # sign extend bit 23
        vals = vals[: (len(vals) // n_channels) * n_channels]
        return (
            sample_rate,
            n_channels,
            vals.reshape(-1, n_channels).astype(np.float64) / float(1 << 23),
        )
    if bits not in _WAV_DTYPES:
        raise UnsupportedMediaError(f"unsupported PCM layout ({bits}-bit)")
    raw = np.frombuffer(data, dtype=_WAV_DTYPES[bits])
    raw = raw[: (len(raw) // n_channels) * n_channels].reshape(-1, n_channels)
    if bits == 8:  # 8-bit WAV is unsigned, midpoint 128
        samples = (raw.astype(np.float64) - 128.0) / 128.0
    else:
        samples = raw.astype(np.float64) / float(1 << (bits - 1))
    return sample_rate, n_channels, samples


def encode_wav_ulaw(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal µ-law (G.711, wav format 7) writer — the fixture for the
    companded-decode path.  ``samples`` in [-1, 1], mono.  Vectorized
    classic linear2ulaw (bias/segment/mantissa)."""
    pcm = np.clip(np.round(np.asarray(samples) * 32767.0), -32635, 32635).astype(
        np.int64
    )
    sign = np.where(pcm < 0, 0x80, 0)
    mag = np.abs(pcm) + 0x84
    exponent = np.floor(np.log2(mag)).astype(np.int64) - 7
    exponent = np.clip(exponent, 0, 7)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    u = (~(sign | (exponent << 4) | mantissa)) & 0xFF
    data = u.astype(np.uint8).tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 7, 1, sample_rate, sample_rate, 1, 8
    )
    hdr += b"data" + struct.pack("<I", len(data))
    return hdr + data


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal 16-bit PCM writer (tests + fixtures; also the inverse used
    to round-trip-check the decoder).  ``samples`` in [-1, 1], shape
    (n_frames,) or (n_frames, n_channels)."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    pcm = np.clip(np.round(arr * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    n_ch = arr.shape[1]
    byte_rate = sample_rate * n_ch * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16)
    hdr += b"data" + struct.pack("<I", len(data))
    return hdr + data


# ---------------------------------------------------------------------------
# BMP (24/32-bit, 1/4/8-bit palette, RLE8/RLE4) and binary PPM/PGM
# ---------------------------------------------------------------------------


@_only_media_errors
def decode_image(payload: bytes) -> np.ndarray:
    """Decode an uncompressed BMP / binary PPM / baseline JPEG payload →
    HxWx3 uint8 RGB.  Anything else (PNG, progressive JPEG, ...) raises
    UnsupportedMediaError."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] in (b"P6", b"P5"):
        return _decode_ppm(payload)
    if payload[:2] == b"\xff\xd8":
        from processor_edf_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from processor_edf_spark.operators.png import decode_png

        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from processor_edf_spark.operators.gif import decode_gif

        return decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from processor_edf_spark.operators.tiff import decode_tiff

        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return decode_webp(payload)
    raise UnsupportedMediaError("not a BMP/PPM/JPEG/PNG/GIF/TIFF/WebP payload")


def _decode_bmp(payload: bytes) -> np.ndarray:
    if len(payload) < 54:
        raise UnsupportedMediaError("truncated BMP header")
    (data_offset,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    (clr_used,) = struct.unpack_from("<I", payload, 46)
    if hdr_size < 40:
        raise UnsupportedMediaError(f"BMP header size {hdr_size}")
    if width < 1 or height == 0:  # height<0 = top-down, but width is unsigned-by-spec
        raise UnsupportedMediaError(f"degenerate BMP dimensions ({width}x{height})")
    if width * abs(height) > 1 << 26:
        raise UnsupportedMediaError("BMP exceeds the pixel decode bound")
    bottom_up = height > 0
    height = abs(height)

    def palette(n_bits):
        n = clr_used or (1 << n_bits)
        off = 14 + hdr_size
        if off + 4 * n > len(payload):
            raise UnsupportedMediaError("truncated BMP color table")
        tbl = np.frombuffer(
            payload, dtype=np.uint8, count=4 * n, offset=off
        ).reshape(n, 4)
        return np.ascontiguousarray(tbl[:, 2::-1])  # BGRX → RGB

    if compression in (1, 2):  # RLE8 / RLE4
        if (compression == 1 and bpp != 8) or (
            compression == 2 and bpp != 4
        ):
            raise UnsupportedMediaError(
                f"BMP RLE compression {compression} with bpp={bpp}"
            )
        idx = _decode_bmp_rle(
            payload[data_offset:], width, height, nibble=(compression == 2)
        )
        img = palette(bpp)[idx]
        return np.ascontiguousarray(img[::-1] if bottom_up else img)
    if compression != 0:
        raise UnsupportedMediaError(f"BMP variant (bpp={bpp}, comp={compression})")
    if bpp in (1, 4, 8):
        stride = ((width * bpp + 7) // 8 + 3) & ~3
        need = data_offset + stride * height
        if len(payload) < need:
            raise UnsupportedMediaError("truncated BMP pixel data")
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * height, offset=data_offset
        ).reshape(height, stride)
        if bpp == 8:
            idx = rows[:, :width]
        else:  # unpack 1- or 4-bit indices, MSB first
            unpacked = np.unpackbits(rows, axis=1)
            parts = unpacked[:, : width * bpp].reshape(height, width, bpp)
            weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
            idx = (parts * weights).sum(axis=2).astype(np.uint8)
        pal = palette(bpp)
        if int(idx.max()) >= len(pal):
            raise UnsupportedMediaError("BMP palette index out of range")
        img = pal[idx]
        return np.ascontiguousarray(img[::-1] if bottom_up else img)
    if bpp not in (24, 32):
        raise UnsupportedMediaError(f"BMP variant (bpp={bpp}, comp={compression})")
    bytes_pp = bpp // 8
    stride = (width * bytes_pp + 3) & ~3  # rows pad to 4 bytes
    need = data_offset + stride * height
    if len(payload) < need:
        raise UnsupportedMediaError("truncated BMP pixel data")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * height, offset=data_offset)
    rows = rows.reshape(height, stride)[:, : width * bytes_pp]
    img = rows.reshape(height, width, bytes_pp)
    if bottom_up:
        img = img[::-1]
    # BMP stores BGR(A) — reorder to RGB, drop alpha
    return np.ascontiguousarray(img[:, :, 2::-1])


def _decode_bmp_rle(data: bytes, width: int, height: int, nibble: bool) -> np.ndarray:
    """RLE8/RLE4 (BMP spec §compression) → (height, width) palette
    indices in STORED (bottom-up) row order.  Escapes: 0,0 end-of-line,
    0,1 end-of-bitmap, 0,2 delta(dx,dy) — skipped pixels stay index 0 —
    0,n>=3 absolute run (word-aligned); runs repeat one byte (RLE8) or
    two alternating nibbles (RLE4)."""
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt:  # encoded run
            if y >= height:
                raise UnsupportedMediaError("BMP RLE overruns the bitmap")
            run = min(cnt, width - x)
            if nibble:
                pair = np.array([val >> 4, val & 0xF], dtype=np.uint8)
                out[y, x : x + run] = np.tile(pair, (cnt + 1) // 2)[:run]
            else:
                out[y, x : x + run] = val
            x += run
            continue
        if val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if i + 1 >= n:
                raise UnsupportedMediaError("truncated BMP RLE delta")
            x = min(x + data[i], width)
            y += data[i + 1]
            i += 2
        else:  # absolute mode: val literal pixels, padded to a word
            if y >= height:
                raise UnsupportedMediaError("BMP RLE overruns the bitmap")
            if nibble:
                nbytes = (val + 1) // 2
                if i + nbytes > n:
                    raise UnsupportedMediaError("truncated BMP RLE literals")
                raw = np.frombuffer(data, np.uint8, count=nbytes, offset=i)
                nibs = np.stack([raw >> 4, raw & 0xF], axis=1).reshape(-1)
                run = min(val, width - x)
                out[y, x : x + run] = nibs[:run]
                i += (nbytes + 1) & ~1
            else:
                if i + val > n:
                    raise UnsupportedMediaError("truncated BMP RLE literals")
                run = min(val, width - x)
                out[y, x : x + run] = np.frombuffer(
                    data, np.uint8, count=val, offset=i
                )[:run]
                i += (val + 1) & ~1
            x += min(val, width - x)
    return out


def _decode_ppm(payload: bytes) -> np.ndarray:
    # header: P6|P5 <ws> width <ws> height <ws> maxval <single ws> raster
    # (comment lines starting with '#' allowed inside the header);
    # P5 is the binary graymap sibling — one sample per pixel,
    # replicated to RGB like every gray decode here
    ch = 3 if payload[:2] == b"P6" else 1
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte before the raster
    width, height, maxval = fields
    if maxval > 255:
        raise UnsupportedMediaError("16-bit PPM")
    if width < 1 or height < 1:
        raise UnsupportedMediaError(f"degenerate PPM dimensions ({width}x{height})")
    need = width * height * ch
    if len(payload) - pos < need:
        raise UnsupportedMediaError("truncated PPM raster")
    arr = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    if ch == 1:
        return np.repeat(arr.reshape(height, width, 1), 3, axis=2)
    return arr.reshape(height, width, 3).copy()


def encode_ppm(img: np.ndarray) -> bytes:
    """Minimal P6 writer (tests + fixtures)."""
    arr = np.asarray(img, dtype=np.uint8)
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize via index arithmetic — the vectorized
    numpy form (no per-pixel loop, no external lib)."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows[:, None], cols[None, :]]


def resize_bilinear(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Bilinear resize, fully vectorized (align_corners=False pixel-center
    convention, the OpenCV/PIL default): source coordinate of output pixel
    i is (i + 0.5)·scale − 0.5, edge-clamped.  Works on HxW and HxWxC;
    returns the input dtype (rounded for integer inputs)."""
    h, w = img.shape[:2]
    sy = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    sx = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(sy).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(sx).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(sy - y0, 0.0, 1.0)
    wx = np.clip(sx - x0, 0.0, 1.0)
    f = img.astype(np.float64)
    # gather the four corners with outer row/col indexing, then lerp
    tl = f[y0[:, None], x0[None, :]]
    tr = f[y0[:, None], x1[None, :]]
    bl = f[y1[:, None], x0[None, :]]
    br = f[y1[:, None], x1[None, :]]
    if f.ndim == 3:
        wy = wy[:, None, None]
        wx = wx[None, :, None]
    else:
        wy = wy[:, None]
        wx = wx[None, :]
    top = tl + (tr - tl) * wx
    bot = bl + (br - bl) * wx
    out = top + (bot - top) * wy
    if np.issubdtype(img.dtype, np.integer):
        info = np.iinfo(img.dtype)
        return np.clip(np.rint(out), info.min, info.max).astype(img.dtype)
    return out.astype(img.dtype)


# ---------------------------------------------------------------------------
# AVI (RIFF) demux — raw/uncompressed frame streams
# ---------------------------------------------------------------------------


@_only_media_errors
def demux_avi_frames(payload: bytes) -> tuple[int, list[bytes]]:
    """Demux an AVI container → (usec_per_frame, ordered frame payloads).

    Walks the nested RIFF LIST structure (hdrl for the avih main header,
    movi for the frame chunks '##db'/'##dc') — the container parse is
    pure byte arithmetic, no codec involved, so this is REAL demux for
    any AVI; whether each frame's bytes then decode depends on the video
    codec (raw/RGB frames need nothing further; compressed ones raise
    at the frame-decode step, not here)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise UnsupportedMediaError("not a RIFF/AVI payload")
    usec_per_frame: list[int] = []
    frames: list[bytes] = []

    # Iterative depth-first walk with an explicit continuation stack: a
    # crafted payload of ~1000 nested LIST headers would blow Python's
    # recursion limit, and RecursionError is not in _only_media_errors'
    # converted set — so nesting depth must not consume interpreter
    # stack.  On LIST, the sibling continuation is pushed and scanning
    # descends into the body, preserving the exact pre-order a recursive
    # walk yields (frame order across split movi LISTs matters).
    stack: list[tuple[int, int]] = []
    pos, end = 12, len(payload)
    while True:
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body_start = pos + 8
            nxt = body_start + size + (size & 1)
            if cid == b"LIST":
                stack.append((nxt, end))
                pos, end = body_start + 4, min(body_start + size, end)
                continue
            if cid == b"avih" and size >= 4:
                usec_per_frame.append(struct.unpack_from("<I", payload, body_start)[0])
            elif cid[2:4] in (b"db", b"dc"):
                frames.append(payload[body_start : body_start + size])
            pos = nxt
        if not stack:
            break
        pos, end = stack.pop()
    if not usec_per_frame:
        raise UnsupportedMediaError("missing avih header")
    return usec_per_frame[0], frames


def encode_avi_raw(frames: list[bytes], usec_per_frame: int) -> bytes:
    """Minimal AVI writer (tests + fixtures): one avih header in an hdrl
    LIST, frames as '00db' chunks in a movi LIST."""
    avih = b"avih" + struct.pack("<I", 56) + struct.pack("<I", usec_per_frame) + b"\0" * 52
    hdrl_body = b"hdrl" + avih
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = b"movi"
    for f in frames:
        movi_body += b"00db" + struct.pack("<I", len(f)) + f + (b"\0" if len(f) & 1 else b"")
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


# ---------------------------------------------------------------------------
# Optional external codec libraries — the deployment seam for compressed
# formats (WebP, MP3/AAC, H.264, compressed TIFF) that genuinely need a
# codec library.  Pure-numpy ports are unreasonable; the DEPLOYMENT
# DECISION is: install the optional extras in the cluster image and these
# payloads decode for real through the same one-exception contract; leave
# them out and every caller keeps the documented ``decoded=false``
# fallback.  Detection is runtime import-probing, so the same wheel runs
# in both environments unchanged.
# ---------------------------------------------------------------------------

OPTIONAL_CODEC_LIBS: dict[str, tuple[str, ...]] = {
    "webp": ("PIL",),            # Pillow — the LOSSY (VP8) profile
    "webp_lossless": (),         # pure-python VP8L plugin (webp.py), below
    "webp_lossy": (),            # pure-python VP8 keyframe plugin (vp8.py)
    "compressed_tiff": ("PIL",),  # JPEG-in-TIFF and friends beyond plugins
    "compressed_tiff_deflate": (),  # stdlib-plugin-backed (zlib), below
    "compressed_tiff_lzw": (),   # pure-python plugin (TIFF 6.0 §13), below
    "compressed_tiff_packbits": (),  # pure-python plugin (TIFF 6.0 §9), below
    "compressed_tiff_jpeg": (),  # pure-python plugin (jpeg.py), below
    "mp3": ("soundfile",),       # libsndfile-backed
    "aac": ("soundfile",),
    "flac": (),                  # pure-python plugin (flac.py), below
    "h264": ("av",),             # PyAV/ffmpeg for AVI/MP4 video frames
    "h264_ipcm": (),             # pure-python plugin (h264.py), below
}

# Codec PLUGIN registry — the second half of the deployment seam.  A
# format becomes available either because its optional library import-
# probes present, or because a plugin callable was registered for it
# (deployments wire their own decoders; the repo registers one stdlib-
# backed default below, so the PRESENT path of the seam runs — and is
# tested — even in a no-extras container).
_CODEC_PLUGINS: dict[str, object] = {}


def register_codec_plugin(fmt: str, plugin) -> None:
    """Install (or with ``None`` remove) a decoder plugin for ``fmt``;
    registered plugins make ``optional_codec_support`` report the
    format available regardless of import probing."""
    if plugin is None:
        _CODEC_PLUGINS.pop(fmt, None)
    else:
        _CODEC_PLUGINS[fmt] = plugin


def get_codec_plugin(fmt: str):
    return _CODEC_PLUGINS.get(fmt)


def optional_codec_support() -> dict[str, bool]:
    """{format: available} for every optional-codec format — a
    registered plugin, else runtime import probing (find_spec, no
    import side effects).  Deployments surface this in job logs so a
    corpus full of WebP on an image-less cluster is a loud config
    finding, not a silent decoded=false sea."""
    import importlib.util

    return {
        fmt: fmt in _CODEC_PLUGINS
        or (
            bool(mods)
            and all(importlib.util.find_spec(m) is not None for m in mods)
        )
        for fmt, mods in OPTIONAL_CODEC_LIBS.items()
    }


def _require_optional(fmt: str) -> None:
    if not optional_codec_support().get(fmt, False):
        libs = ", ".join(OPTIONAL_CODEC_LIBS[fmt]) or "a registered plugin"
        raise UnsupportedMediaError(
            f"{fmt} payload needs the optional codec library ({libs}): "
            "install it in the cluster image to decode for real; without "
            "it callers keep the documented decoded=false fallback"
        )


def _tiff_deflate_strip_plugin(strip: bytes, max_len: int) -> bytes:
    """Default ``compressed_tiff_deflate`` plugin: decompress one
    Deflate/AdobeDeflate TIFF strip with stdlib zlib, output bounded at
    ``max_len`` (the strip's expected raster bytes) so a crafted
    zip-bomb strip cannot inflate past the decode bound."""
    import zlib

    try:
        return zlib.decompressobj().decompress(strip, max_len)
    except zlib.error as e:
        raise UnsupportedMediaError(f"bad deflate TIFF strip: {e}") from e


# stdlib-backed, so registered unconditionally: deflate-compressed TIFF
# decodes for REAL in every environment, exercising the plugin half of
# the seam without any optional wheel.
register_codec_plugin("compressed_tiff_deflate", _tiff_deflate_strip_plugin)


def _tiff_lzw_strip_plugin(strip: bytes, max_len: int) -> bytes:
    """Default ``compressed_tiff_lzw`` plugin: decompress one LZW TIFF
    strip (TIFF 6.0 §13 — MSB-first code packing, 9→12-bit codes with
    the spec's "early change": the code width bumps when the NEXT code
    to be added would be 2^w−1, one entry earlier than classic LZW, the
    off-by-one that libtiff-compatible writers bake in).  Output is
    bounded at ``max_len`` (the strip's expected raster bytes) so a
    crafted expanding strip cannot inflate past the decode bound.

    Pure-python per-code loop — fine under the MAX_PIXELS gate;
    deployments with Pillow/imagecodecs can register a faster plugin
    through the same seam."""
    CLEAR, EOI = 256, 257
    data = strip
    nbits = len(data) * 8
    pos = 0
    width = 9
    out = bytearray()
    table: list[bytes] = []
    next_code = 258
    prev = b""

    def read_code() -> int:
        nonlocal pos
        if pos + width > nbits:
            return EOI  # unterminated strip: tolerate like libtiff
        byte0 = pos >> 3
        chunk = int.from_bytes(data[byte0 : byte0 + 3].ljust(3, b"\0"), "big")
        val = (chunk >> (24 - (pos & 7) - width)) & ((1 << width) - 1)
        pos += width
        return val

    base = [bytes([i]) for i in range(256)] + [b"", b""]
    started = False
    while True:
        code = read_code()
        if code == EOI:
            break
        if code == CLEAR:
            table = list(base)
            next_code = 258
            width = 9
            code = read_code()
            if code == EOI:
                break
            if code > 255:
                raise UnsupportedMediaError(
                    "LZW strip: non-literal code right after ClearCode"
                )
            prev = table[code]
            out += prev
            started = True
            continue
        if not started:
            raise UnsupportedMediaError(
                "LZW strip does not start with ClearCode"
            )
        if code < next_code:
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK case
            table.append(entry)
        else:
            raise UnsupportedMediaError("LZW code past end of table")
        out += entry
        prev = entry
        next_code += 1
        # early change: the decoder runs one table entry behind the
        # encoder, so bumping at 2^w−1 here lines up with the
        # encoder's early bump (TIFF 6.0 §13 / libtiff LZWDecode)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if len(out) >= max_len:
            return bytes(out[:max_len])
    return bytes(out)


# pure-python, so registered unconditionally: LZW-compressed TIFF — the
# scheme most real scanned-document corpora use — decodes for REAL in
# every environment through the plugin seam, no optional wheel needed.
register_codec_plugin("compressed_tiff_lzw", _tiff_lzw_strip_plugin)


def _tiff_packbits_strip_plugin(strip: bytes, max_len: int) -> bytes:
    """Default ``compressed_tiff_packbits`` plugin: decompress one
    PackBits TIFF strip (TIFF 6.0 §9 / compression 32773 — the Apple
    run-length scheme scanned-document writers commonly emit).
    Control byte n as signed: 0..127 → copy the next n+1 literal
    bytes; −127..−1 → repeat the next byte 1−n times; −128 → no-op.
    Output bounded at ``max_len`` (the strip's expected raster bytes)
    so a crafted expanding strip cannot inflate past the decode
    bound; a control byte with no operand bytes left is malformed."""
    out = bytearray()
    i = 0
    n_in = len(strip)
    while i < n_in and len(out) < max_len:
        n = strip[i]
        i += 1
        if n == 128:  # -128: no operation
            continue
        if n < 128:  # literal run of n+1 bytes
            j = i + n + 1
            if j > n_in:
                raise UnsupportedMediaError(
                    "PackBits strip: literal run past end of strip"
                )
            out += strip[i:j]
            i = j
        else:  # replicate next byte 257-n times (1-n as signed)
            if i >= n_in:
                raise UnsupportedMediaError(
                    "PackBits strip: replicate run missing its byte"
                )
            out += strip[i : i + 1] * (257 - n)
            i += 1
    return bytes(out[:max_len])


# pure-python, so registered unconditionally — the third default strip
# plugin next to the Deflate/LZW twins.
register_codec_plugin("compressed_tiff_packbits", _tiff_packbits_strip_plugin)


def decode_tiff_via_optional(payload: bytes) -> np.ndarray:
    """LZW/JPEG-in-TIFF route: decode the whole payload via a
    registered ``compressed_tiff`` plugin, else Pillow when the extra
    is present; otherwise the one-exception contract naming the extra
    (operators/tiff.py routes here for compression schemes its
    plugins don't cover)."""
    plugin = get_codec_plugin("compressed_tiff")
    if plugin is not None:
        return plugin(payload)
    _require_optional("compressed_tiff")
    import io

    from PIL import Image  # noqa: PLC0415 — optional, gated above

    return np.asarray(
        Image.open(io.BytesIO(payload)).convert("RGB"), dtype=np.uint8
    )


def _webp_chunk_kind(payload: bytes) -> str | None:
    """"VP8L" (lossless), "VP8 " (lossy), "ANIM" (animated — an ANMF
    appears before any top-level image chunk) or None for a RIFF
    payload — the router between the pure-python plugins."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    off = 12
    while off + 8 <= len(payload):
        tag = payload[off : off + 4]
        if tag == b"ANMF":
            return "ANIM"
        if tag in (b"VP8L", b"VP8 "):
            return tag.decode("ascii")
        (size,) = struct.unpack("<I", payload[off + 4 : off + 8])
        off += 8 + size + (size & 1)
    return None


def decode_webp(payload: bytes) -> np.ndarray:
    """WebP → HxWx3 uint8 RGB via a registered plugin, else the
    pure-python VP8L plugin for LOSSLESS payloads, the pure-python VP8
    plugin (operators/vp8.py) for lossy keyframes it can decode, else
    Pillow when installed; otherwise the one-exception contract
    (UnsupportedMediaError naming the extra).  A registered ``webp``
    plugin takes precedence — it is what made
    ``optional_codec_support`` report the format available, so it must
    be what decodes.  Lossy (``VP8 ``) payloads outside the
    pure-python subset fall through to Pillow when installed (the
    plugin's honest UnsupportedMediaError seams route there, same
    discipline as decode_mp3), so a Pillow deployment keeps decoding
    everything it did before the plugin existed."""
    plugin = get_codec_plugin("webp")
    if plugin is not None:
        return plugin(payload)
    kind = _webp_chunk_kind(payload)
    if kind == "ANIM":
        # animated WebP: the still-image API returns the FIRST
        # composed canvas (the spec-blessed thumbnail); the full
        # sequence is webp.compose_webp_anim / decode_webp_anim
        from processor_edf_spark.operators.webp import (
            compose_webp_anim,
        )

        return compose_webp_anim(payload)[1][0]
    lossless = get_codec_plugin("webp_lossless")
    if lossless is not None and kind == "VP8L":
        return lossless(payload)
    # lossy (VP8) keyframes: the pure-python plugin (operators/vp8.py)
    # decodes what it honestly can; its documented seams raise
    # UnsupportedMediaError, which falls through to Pillow when that
    # optional extra is installed (mirroring decode_mp3's routing) so
    # the plugin never regresses a Pillow deployment's coverage
    lossy = get_codec_plugin("webp_lossy")
    if lossy is not None and kind == "VP8 ":
        try:
            return lossy(payload)
        except UnsupportedMediaError:
            if not optional_codec_support().get("webp"):
                raise
    _require_optional("webp")
    import io

    from PIL import Image  # noqa: PLC0415 — optional, gated above

    return np.asarray(
        Image.open(io.BytesIO(payload)).convert("RGB"), dtype=np.uint8
    )


def decode_mp3(payload: bytes) -> tuple[int, int, np.ndarray]:
    """MP3 → (rate, n_channels, float samples); same contract/shape as
    decode_wav_pcm.  Routing order: a registered plugin wins; else the
    pure-python MPEG-1 Layer III decoder (operators/mp3.py — REAL in
    every environment, r12) handles the stream, falling through to
    soundfile (when installed) only for the decoder's documented
    honest-seam residue (untranscribed Huffman selects, MPEG-2/2.5,
    Layers I/II, free format — see the mp3.py module docstring)."""
    plugin = get_codec_plugin("mp3")
    if plugin is not None:
        return plugin(payload)
    from processor_edf_spark.operators import mp3 as _mp3  # noqa: PLC0415

    try:
        return _mp3.decode_mp3_py(payload)
    except UnsupportedMediaError:
        if not optional_codec_support().get("mp3"):
            raise
    import io

    import soundfile  # noqa: PLC0415 — optional, gated above

    data, rate = soundfile.read(io.BytesIO(payload), always_2d=True)
    return int(rate), int(data.shape[1]), data.astype(np.float64)


def decode_flac_audio(payload: bytes) -> tuple[int, int, np.ndarray]:
    """FLAC → (rate, n_channels, float samples) via a registered
    ``flac`` plugin — the pure-python decoder in operators/flac.py is
    registered unconditionally below, so this path is REAL everywhere;
    deployments may override the registration with a faster native
    decoder.  Same contract/shape as decode_wav_pcm."""
    plugin = get_codec_plugin("flac")
    if plugin is not None:
        return plugin(payload)
    _require_optional("flac")
    raise AssertionError("unreachable: flac plugin registered at import")


def is_annexb_h264(payload: bytes) -> bool:
    """Annex-B byte-stream sniff: a 3- or 4-byte start code at offset 0
    (spec B.1.1 — leading_zero_8bits runs are tolerated by the decoder,
    but a stream that doesn't OPEN with a start code isn't Annex-B)."""
    return payload[:4] == b"\x00\x00\x00\x01" or payload[:3] == b"\x00\x00\x01"


@_only_media_errors
def decode_h264_video(payload: bytes) -> tuple[int, int, list]:
    """Annex-B H.264 → (width, height, [(Y, U, V)]) via the registered
    ``h264_ipcm`` plugin — the pure-python decoder in operators/h264.py
    is registered unconditionally below, so I_PCM, (r11) CAVLC-coded
    intra, (r12) P-slice inter streams (quarter-pel MC, P_Skip, all
    P partition types, a multi-picture sliding-window DPB with
    te(v)-coded ref_idx), DEBLOCKED streams (the §8.7 in-loop filter),
    AND (r12) B-slice bi-prediction with spatial/temporal direct modes
    decode for REAL everywhere.  Frames return in DISPLAY order
    (POC-sorted within each IDR GOP, r13) — the same contract a PyAV
    replacement plugin honors, so order-sensitive consumers see
    identical output through either implementation.  The seam now
    splits at CABAC, reference-list reordering/MMCO, weighted
    prediction, fields, 8x8 transforms, POC type 1 B streams: the
    plugin raises UnsupportedMediaError naming the optional codec
    library (av), the same contract as the MP3 path — install PyAV in
    the cluster image (and register it as the ``h264`` plugin) to
    decode those for real."""
    plugin = get_codec_plugin("h264_ipcm")
    if plugin is not None:
        return plugin(payload)
    _require_optional("h264_ipcm")
    raise AssertionError("unreachable: h264_ipcm plugin registered at import")


def _is_mp3(payload: bytes) -> bool:
    return payload[:3] == b"ID3" or (
        len(payload) >= 2
        and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
    )


@_only_media_errors
def decode_audio(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Route an audio payload by magic byte: RIFF/WAVE → the pure-numpy
    PCM/G.711/ADPCM decoders; fLaC → the pure-python FLAC decoder
    (real everywhere, plugin-overridable); MP3 → the optional soundfile
    path (real decode when installed, UnsupportedMediaError naming the
    extra when not); anything else → UnsupportedMediaError."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav_pcm(payload)
    if payload[:4] == b"fLaC":
        return decode_flac_audio(payload)
    if payload[:4] == b"OggS":
        from processor_edf_spark.operators.vorbis import decode_vorbis

        return decode_vorbis(payload)
    if _is_mp3(payload):
        return decode_mp3(payload)
    raise UnsupportedMediaError(
        "not a RIFF/WAVE, FLAC, Ogg Vorbis or MP3 payload"
    )


# pure-python, so registered unconditionally: the VP8L (WebP lossless)
# decoder.  The import happens lazily INSIDE the plugin — webp.py
# imports this module's error type and jpeg.py's MAX_PIXELS, so any
# module-load-time import here is circular from one entry order or
# another (jpeg -> media_codecs -> webp -> jpeg broke the bench run
# that registered this seam).
def _webp_lossless_plugin(payload):
    from processor_edf_spark.operators.webp import decode_webp_lossless

    return decode_webp_lossless(payload)


register_codec_plugin("webp_lossless", _webp_lossless_plugin)


# pure-python, so registered unconditionally: the VP8 (lossy WebP)
# keyframe intra decoder.  Lazy import for the same circularity reason.
def _webp_lossy_plugin(payload):
    from processor_edf_spark.operators.webp import decode_webp_lossy

    return decode_webp_lossy(payload)


register_codec_plugin("webp_lossy", _webp_lossy_plugin)


# pure-python, so registered unconditionally: the H.264 I_PCM-subset
# decoder.  Lazy import inside the plugin for the same circularity
# reason as the webp/flac registrations (h264.py imports this module's
# error type at load).
def _h264_ipcm_plugin(payload):
    from processor_edf_spark.operators.h264 import decode_h264_ipcm

    return decode_h264_ipcm(payload)


register_codec_plugin("h264_ipcm", _h264_ipcm_plugin)


# pure-python, so registered unconditionally: JPEG-in-TIFF strips
# decode through the repo's own baseline+progressive JPEG decoder.
# Unlike the deflate/lzw strip plugins (bytes → bytes), this one
# returns decoded HxWx3 pixels — a JPEG strip IS an image, not a
# raster byte stream.  Lazy import for the usual circularity reason.
def _tiff_jpeg_strip_plugin(strip):
    from processor_edf_spark.operators.jpeg import decode_jpeg

    return decode_jpeg(strip)


register_codec_plugin("compressed_tiff_jpeg", _tiff_jpeg_strip_plugin)


# pure-python, so registered unconditionally: the FLAC decoder (the
# audio twin of the VP8L registration — same lazy-import discipline,
# flac.py imports this module's error type).
def _flac_plugin(payload):
    from processor_edf_spark.operators.flac import decode_flac

    return decode_flac(payload)


register_codec_plugin("flac", _flac_plugin)
