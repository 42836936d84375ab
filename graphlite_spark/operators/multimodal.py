"""Multimodal (image/audio/video) column operators.

Design for 100 TB multimodal corpora: media lives in opaque ``binary``
columns (or object-store URIs) beside typed metadata structs; all
decode / feature-extraction runs in Arrow-batched ``mapInPandas`` so
bytes never round-trip through row-at-a-time Python.

Decode kernels, by format (all REAL, stdlib+numpy, no external libs):
- BMP: 24/32bpp uncompressed, struct parse + strided numpy.
- PNG: zlib inflate + vectorized scanline unfilter, 8-bit
  gray/RGB/RGBA, sequential AND Adam7-interlaced.
- JPEG: baseline sequential AND progressive (T.81 / SOF0+SOF2) — LUT
  Huffman + batched numpy IDCT, 1/3 components, sampling up to 2x2
  (4:4:4/4:2:2/4:2:0), restart markers, spectral selection +
  successive approximation; lossless/arithmetic raise.
- GIF: 87a/89a LZW first frame, global/local palettes, interlacing,
  animated-frame compositing with real frame sampling.
- Video: MJPEG-in-AVI (RIFF walk, frames are the stream's JPEGs) and
  animated GIF; H.264-class containers raise.
- WAV PCM + native FLAC audio (rice residuals, fixed/LPC predictors,
  stereo decorrelation) + true MFCC (mel filterbank + DCT-II).
STUBBED: MP4/WebM video and MP3/AAC audio (need ffmpeg-class
codecs) — NotImplementedError names the gap; pass
``deterministic_fake=True`` for seeded content-derived fakes so the
Spark-side plumbing stays testable on arbitrary bytes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .common import local_frame

# Exceptions that mean "this asset's bytes are corrupt/truncated/
# unsupported" — the ONLY kinds on_error='null'/'skip' may swallow.
# IndexError/KeyError/OverflowError arise from the hand-rolled bit
# readers and table lookups hitting truncated or bit-flipped input
# (see test_decoder_truncation_robustness). Anything else
# (MemoryError, numpy internal errors, kernel bugs) propagates and
# fails the job — a silent "corrupt asset" record would hide it.
import struct as _struct
import wave as _wave
import zlib as _zlib

DECODE_ERRORS = (
    ValueError, NotImplementedError, EOFError, IndexError, KeyError,
    OverflowError, _struct.error, _zlib.error, _wave.Error,
)

# Corrupt headers can claim absurd dimensions (a fuzzed 4-byte width
# field reads as ~4e9), driving a huge np.zeros BEFORE any pixel data
# is touched — an allocation that OOM-kills the executor rather than
# raising cleanly, defeating on_error='null' at corpus scale. Cap
# header-declared pixel counts with a sanity bound (default 2^26 px =
# 8192x8192 RGBA ≈ 256 MiB, far above any sane training asset) and
# reject beyond it as a decode error.
MAX_DECODE_PIXELS = 1 << 26


def _spread_narrow(df: DataFrame, key: str = "asset_id") -> DataFrame:
    """Decode kernels are narrow mapInPandas stages whose per-asset
    work (1-5 MB/s/core entropy decode) dwarfs one shuffle of the
    bytes — see operators/common.spread_narrow. probe_media does NOT
    spread: its work is header-only triage, so shipping full asset
    bytes to parallelize KB-per-asset parsing would cost more than it
    buys."""
    from .common import spread_narrow

    return spread_narrow(df, key)


def _check_dims(width: int, height: int, what: str) -> None:
    if width <= 0 or height <= 0:
        raise ValueError(f"{what}: invalid dimensions {width}x{height}")
    if width * height > MAX_DECODE_PIXELS:
        raise ValueError(
            f"{what}: header dimensions {width}x{height} exceed the "
            f"decode sanity bound of {MAX_DECODE_PIXELS} pixels")

# canonical schema for a multimodal asset row
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),  # inline bytes (small) ...
        StructField("uri", StringType(), True),  # ... or object-store pointer
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", LongType(), True),
                    StructField("height", LongType(), True),
                    StructField("duration_ms", LongType(), True),
                    StructField("codec", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("embedding", ArrayType(DoubleType()), True),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


# Adam7 interlace pass origins and strides: (x0, y0, dx, dy) — PNG
# spec §8.2. Each pass is an independently-filtered sub-image.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter_png(raw: bytes, width: int, height: int, ch: int):
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/Paeth).

    Vectorized with numpy per scanline: None/Up are whole-row ops, Sub
    is a per-channel-lane cumulative sum (mod 256); Average and Paeth
    predict from the reconstructed left neighbor, so they are
    inherently sequential along the row — those rows iterate per PIXEL
    GROUP but stay numpy-vectorized across the ``ch`` channel lanes.
    Returns a (height, width*ch) uint8 array.
    """
    import numpy as np

    stride = width * ch
    arr = np.frombuffer(raw, dtype=np.uint8, count=height * (stride + 1))
    arr = arr.reshape(height, stride + 1)
    ftypes = arr[:, 0]
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        f = int(ftypes[y])
        line = arr[y, 1:].copy()
        if f == 0:  # None
            pass
        elif f == 1:  # Sub: line[i] += line[i-ch] -> lane-wise cumsum mod 256
            line = np.cumsum(line.reshape(-1, ch), axis=0,
                             dtype=np.int64).astype(np.uint8).ravel()
        elif f == 2:  # Up: uint8 addition wraps mod 256
            line = line + prev
        elif f == 3:  # Average: sequential on reconstructed left neighbor
            rec = line.reshape(-1, ch).astype(np.int32)
            pr = prev.reshape(-1, ch).astype(np.int32)
            left = np.zeros(ch, dtype=np.int32)
            for x in range(width):
                left = (rec[x] + ((left + pr[x]) >> 1)) & 0xFF
                rec[x] = left
            line = rec.astype(np.uint8).ravel()
        elif f == 4:  # Paeth: sequential on reconstructed left neighbor
            rec = line.reshape(-1, ch).astype(np.int32)
            pr = prev.reshape(-1, ch).astype(np.int32)
            left = np.zeros(ch, dtype=np.int32)
            upleft = np.zeros(ch, dtype=np.int32)
            for x in range(width):
                up = pr[x]
                p = left + up - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - up)
                pc = np.abs(p - upleft)
                pred = np.where((pa <= pb) & (pa <= pc), left,
                                np.where(pb <= pc, up, upleft))
                left = (rec[x] + pred) & 0xFF
                rec[x] = left
                upleft = up
            line = rec.astype(np.uint8).ravel()
        else:
            raise NotImplementedError(f"PNG filter type {f} invalid")
        out[y] = line
        prev = line
    return out


def _png_rowlen(pw: int, depth: int, ch: int) -> int:
    """Filtered-scanline byte length (filter byte + packed samples)."""
    if depth == 16:
        return pw * ch * 2 + 1
    if depth == 8:
        return pw * ch + 1
    return (pw * depth + 7) // 8 + 1


def _png_decode_pass(raw: bytes, off: int, pw: int, ph: int,
                     depth: int, ch: int):
    """Decode one (sub-)image of ``ph`` filtered scanlines starting at
    ``off`` -> ((ph, pw, ch) uint8 samples, bytes consumed).

    16-bit samples are downsampled to the high byte (the standard
    8-bit reduction); sub-byte depths (palette indexes, MSB-first bit
    packing) are unpacked to one index byte per pixel. Filtering for
    depth<8 operates on whole bytes with bpp=1 per the PNG spec, so
    the existing byte-level unfilter applies unchanged.
    """
    import numpy as np

    if depth == 8:
        nbytes = ph * (pw * ch + 1)
        sub = _unfilter_png(raw[off:off + nbytes], pw, ph, ch)
        return sub.reshape(ph, pw, ch), nbytes
    if depth == 16:
        nbytes = ph * (pw * ch * 2 + 1)
        sub = _unfilter_png(raw[off:off + nbytes], pw, ph, ch * 2)
        return sub.reshape(ph, pw, ch, 2)[..., 0].copy(), nbytes
    rowbytes = (pw * depth + 7) // 8
    nbytes = ph * (rowbytes + 1)
    sub = _unfilter_png(raw[off:off + nbytes], rowbytes, ph, 1)
    bits = np.unpackbits(sub.reshape(ph, rowbytes), axis=1)
    vals = bits.reshape(ph, rowbytes * 8 // depth, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    idx = (vals * weights).sum(axis=2).astype(np.uint8)[:, :pw]
    return idx[..., None], nbytes


def _luminance(px, ch: int):
    """(n_pixels, ch) uint8 -> per-pixel luminance float64 in [0, 1]
    (ITU-R BT.601 weights, matching the reference-free BMP/PNG/JPEG
    kernels). Alpha (ch=4) is ignored; ch=1 is already gray."""
    import numpy as np

    px = np.asarray(px, dtype=np.float64)
    if ch == 1:
        return px.ravel() / 255.0
    return (0.299 * px[:, 0] + 0.587 * px[:, 1] + 0.114 * px[:, 2]) / 255.0


def _gray_embedding(gray, width: int, height: int, dim: int) -> list[float]:
    """dim-cell mean-luminance embedding in [0, 1]: the flattened
    row-major pixel sequence split into dim contiguous chunks.
    Vectorized: one reduceat over the chunk boundaries.

    ``dim=None`` returns the FULL row-major luminance array instead
    (resize_images needs the pixels, not the pooled embedding)."""
    import numpy as np

    if dim is None:
        return np.asarray(gray, dtype=np.float64).ravel()
    gray = np.asarray(gray, dtype=np.float64).ravel()
    n = width * height
    lo = (np.arange(dim, dtype=np.int64) * n) // dim
    hi = (np.arange(1, dim + 1, dtype=np.int64) * n) // dim
    counts = hi - lo
    if n == 0:
        return [0.0] * dim
    sums = np.add.reduceat(gray, lo)
    # reduceat returns gray[lo[k]] when lo[k] == hi[k] (empty chunk) —
    # mask those to 0 to keep the chunked-mean contract
    emb = np.where(counts > 0, sums / np.maximum(counts, 1), 0.0)
    return [float(v) for v in emb]


def _decode_image(content: bytes, dim: int = 8) -> tuple[int, int, list[float]]:
    """REAL stdlib+numpy decode for BMP (24/32bpp uncompressed), PNG
    (8-bit gray/RGB/RGBA, sequential or Adam7-interlaced), JPEG
    (baseline + progressive, see _decode_jpeg) and GIF. Unsupported
    variants raise NotImplementedError (honest guard)."""
    import struct
    import zlib

    import numpy as np

    content = bytes(content or b"")
    if content[:2] == b"BM" and len(content) >= 54:
        off, = struct.unpack_from("<I", content, 10)
        width, height = struct.unpack_from("<ii", content, 18)
        bpp, = struct.unpack_from("<H", content, 28)
        comp, = struct.unpack_from("<I", content, 30)
        if comp != 0 or bpp not in (24, 32):
            raise NotImplementedError(f"BMP compression={comp} bpp={bpp} unsupported")
        top_down = height < 0
        height = abs(height)
        _check_dims(width, height, "BMP")
        nch = bpp // 8
        stride = ((width * nch + 3) // 4) * 4
        rows = np.frombuffer(content, dtype=np.uint8, count=stride * height,
                             offset=off).reshape(height, stride)
        if not top_down:
            rows = rows[::-1]
        # BGR(A) row-major -> (n_pixels, nch), then flip channel order
        px = rows[:, : width * nch].reshape(-1, nch)[:, [2, 1, 0] + ([3] if nch == 4 else [])]
        gray = _luminance(px, 3)
        return width, height, _gray_embedding(gray, width, height, dim)
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        width, height = struct.unpack_from(">II", content, 16)
        _check_dims(width, height, "PNG")
        depth, ctype = content[24], content[25]
        compression, filt, interlace = content[26], content[27], content[28]
        ch_map = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
        if ctype not in ch_map:
            raise NotImplementedError(f"PNG colortype={ctype} unsupported")
        if ctype == 3:
            if depth not in (1, 2, 4, 8):
                raise NotImplementedError(
                    f"PNG palette depth={depth} invalid")
        elif depth not in (8, 16):
            raise NotImplementedError(
                f"PNG depth={depth} colortype={ctype} unsupported")
        if compression != 0 or filt != 0:
            raise NotImplementedError(
                f"PNG compression={compression} filter_method={filt} unsupported")
        if interlace not in (0, 1):
            raise NotImplementedError(f"PNG interlace={interlace} invalid")
        ch = ch_map[ctype]
        idat = bytearray()
        plte = None
        pos = 8
        while pos + 8 <= len(content):
            ln, = struct.unpack_from(">I", content, pos)
            tag = content[pos + 4:pos + 8]
            if tag == b"IDAT":
                idat += content[pos + 8:pos + 8 + ln]
            elif tag == b"PLTE":
                plte = content[pos + 8:pos + 8 + ln]
            if tag == b"IEND":
                break
            pos += 12 + ln
        # Bound the inflate by the filtered-stream size the declared
        # dims imply — a zlib bomb in IDAT must not expand past the
        # (already-capped) dimensions into a multi-GiB allocation.
        if interlace == 1:
            expected = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (width - x0 + dx - 1) // dx
                ph = (height - y0 + dy - 1) // dy
                if pw > 0 and ph > 0:
                    expected += ph * _png_rowlen(pw, depth, ch)
        else:
            expected = height * _png_rowlen(width, depth, ch)
        dobj = zlib.decompressobj()
        raw = dobj.decompress(bytes(idat), expected + 1)
        if len(raw) > expected:
            raise ValueError(
                "PNG: IDAT inflates past the size implied by the header "
                "dimensions")
        if interlace == 1:
            # Adam7: seven independently-filtered sub-images, each
            # through the same vectorized unfilter, scattered into the
            # output grid by the pass's (x0, y0, dx, dy) lattice
            img = np.zeros((height, width, ch), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (width - x0 + dx - 1) // dx
                ph = (height - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue  # empty pass contributes zero bytes
                sub, nbytes = _png_decode_pass(raw, off, pw, ph, depth, ch)
                off += nbytes
                img[y0::dy, x0::dx, :] = sub
            px = img.reshape(-1, ch)
        else:
            sub, _ = _png_decode_pass(raw, 0, width, height, depth, ch)
            px = sub.reshape(-1, ch)
        if ctype == 3:  # palette LUT after unfilter/unpack
            if plte is None or len(plte) < 3:
                raise ValueError("PNG: palette image without PLTE")
            pal = np.frombuffer(plte, np.uint8,
                                (len(plte) // 3) * 3).reshape(-1, 3)
            idx = px[:, 0]
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("PNG: palette index out of range")
            px, ch_eff = pal[idx.astype(np.int64)], 3
        elif ctype == 4:  # gray+alpha: luminance is the gray channel
            px, ch_eff = px[:, :1], 1
        else:
            ch_eff = ch
        gray = _luminance(px, ch_eff)
        return width, height, _gray_embedding(gray, width, height, dim)
    if content[:2] == b"\xff\xd8":
        width, height, gray = _decode_jpeg(content)
        return width, height, _gray_embedding(gray, width, height, dim)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        width, height, gray = _decode_gif(content)
        return width, height, _gray_embedding(gray, width, height, dim)
    if content[:2] in (b"II", b"MM") and len(content) >= 8 and \
            struct.unpack_from(
                "<H" if content[:2] == b"II" else ">H", content, 2
            )[0] == 42:
        width, height, gray = _decode_tiff(content)
        return width, height, _gray_embedding(gray, width, height, dim)
    raise NotImplementedError(
        "unrecognized image container (BMP/PNG/baseline-JPEG/GIF decode "
        "without external codecs) — pass deterministic_fake=True for "
        "plumbing tests"
    )


def _lzw_decode(data: bytes, min_code: int, max_pixels: int) -> list[int]:
    """GIF-variant LZW (LSB-first bit packing, CLEAR/END codes,
    code width grows to 12 bits). Inherently sequential — same class
    as JPEG's Huffman stage."""
    clear = 1 << min_code
    end = clear + 1
    base = [(i,) for i in range(clear)] + [None, None]
    table = list(base)
    code_size = min_code + 1
    out: list[int] = []
    prev = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < max_pixels:
        if bitpos + code_size > total_bits:
            break
        # read code_size bits LSB-first
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i:byte_i + 3], "little")
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(base)
            code_size = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
            out.extend(entry)
            prev = entry
            continue
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table):
            entry = prev + (prev[0],)
        else:
            raise ValueError("invalid GIF LZW code")
        table.append(prev + (entry[0],))
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
        out.extend(entry)
        prev = entry
    return out


def _tiff_lzw_decode(data: bytes, max_bytes: int) -> bytes:
    """TIFF-variant LZW (Compression=5): MSB-first bit packing, 8-bit
    symbols with CLEAR=256 / EOI=257, code width 9->12 with the
    'early change' convention — the width bump fires one table entry
    EARLIER than GIF's (when the table length reaches 2^w - 1, vs 2^w
    in _lzw_decode above). The TIFF 6.0 spec text famously admits an
    off-by-one reading of where the bump lands; this follows libtiff's
    convention (the de-facto ecosystem ground truth), and the paired
    _tiff_lzw_encode uses the mirror rule (bump when NextCode reaches
    2^w, one write later — the asymmetry is inherent: the decoder's
    table lags the encoder's by exactly one entry at the same stream
    position). Round-trip across every width boundary is pinned in
    pytest. Inherently sequential, same class as GIF LZW / JPEG
    Huffman."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    bitpos = 0
    total = len(data) * 8
    prev = None
    while len(out) < max_bytes and bitpos + width <= total:
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i:byte_i + 4].ljust(4, b"\0"),
                                "big")
        code = (window >> (32 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= 256:
                raise ValueError("TIFF LZW: non-literal first code")
            entry = table[code]
            out += entry
            prev = entry
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("invalid TIFF LZW code")
        table.append(prev + entry[:1])
        # early change: one entry before the table actually fills
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        out += entry
        prev = entry
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """The synth/encoder sibling of _tiff_lzw_decode (same role as
    synth_jpeg/synth_tiff: deterministic assets for exact oracles).
    Emits CLEAR when NextCode reaches 4094 (leaving spec headroom
    below the 12-bit ceiling); width bump when NextCode reaches 2^w
    (the decoder, one entry behind, bumps at 2^w - 1 and stays in
    sync — see _tiff_lzw_decode)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc = (acc << w) | code
        nbits += w
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    cur = b""
    for b in data:
        s = cur + bytes([b])
        if s in table:
            cur = s
            continue
        emit(table[cur], width)
        table[s] = next_code
        next_code += 1
        cur = bytes([b])
        if next_code == 4094:
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        elif next_code == (1 << width) and width < 12:
            width += 1
    if cur:
        emit(table[cur], width)
    emit(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _gif_frames(content: bytes):
    """Iterate composited full-canvas frames of a GIF87a/89a stream.

    Yields (canvas_rgb uint8 (H, W, 3), delay_ms) per frame with
    Graphics Control Extension handling: per-frame delay, transparency
    index, and disposal methods 0/1 (leave), 2 (restore background),
    3 (restore previous). Frames may be sub-rectangles at (left, top).
    """
    import struct

    import numpy as np

    width, height = struct.unpack_from("<HH", content, 6)
    _check_dims(width, height, "GIF")
    flags = content[10]
    bg_idx = content[11]
    pos = 13
    gct = None
    if flags & 0x80:
        sz = 2 << (flags & 7)
        gct = np.frombuffer(content, np.uint8, sz * 3, pos).reshape(sz, 3)
        pos += sz * 3
    bg_rgb = gct[bg_idx] if gct is not None and bg_idx < len(gct) else \
        np.zeros(3, dtype=np.uint8)
    canvas = np.tile(bg_rgb, (height, width, 1)).astype(np.uint8)
    delay_ms, disposal, transparent = 0, 0, None
    saw_frame = False
    while pos < len(content):
        b = content[pos]
        if b == 0x21:  # extension
            label = content[pos + 1]
            pos += 2
            if label == 0xF9 and content[pos] >= 4:  # GCE
                gflags = content[pos + 1]
                delay_cs, = struct.unpack_from("<H", content, pos + 2)
                delay_ms = delay_cs * 10
                disposal = (gflags >> 2) & 7
                transparent = content[pos + 4] if gflags & 1 else None
            while content[pos]:
                pos += content[pos] + 1
            pos += 1
        elif b == 0x2C:  # image descriptor
            left, top, iw, ih = struct.unpack_from("<HHHH", content, pos + 1)
            _check_dims(iw, ih, "GIF frame")
            if left + iw > width or top + ih > height:
                raise ValueError(
                    f"GIF frame rect {left},{top}+{iw}x{ih} exceeds "
                    f"canvas {width}x{height}")
            iflags = content[pos + 9]
            pos += 10
            pal = gct
            if iflags & 0x80:  # local color table
                sz = 2 << (iflags & 7)
                pal = np.frombuffer(content, np.uint8, sz * 3, pos).reshape(sz, 3)
                pos += sz * 3
            if pal is None:
                raise NotImplementedError("GIF without a color table")
            min_code = content[pos]
            pos += 1
            data = bytearray()
            while content[pos]:
                n = content[pos]
                data += content[pos + 1: pos + 1 + n]
                pos += n + 1
            pos += 1
            idx = _lzw_decode(bytes(data), min_code, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("GIF pixel data truncated")
            arr = np.asarray(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
            if iflags & 0x40:  # GIF interlacing: rows arrive in 4 passes
                order = []
                for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                    order.extend(range(start, ih, step))
                out = np.empty_like(arr)
                out[np.asarray(order)] = arr
                arr = out
            prev = canvas.copy() if disposal == 3 else None
            region = canvas[top:top + ih, left:left + iw]
            frame_rgb = pal[arr].astype(np.uint8)
            if transparent is not None:
                mask = arr != transparent
                region[mask] = frame_rgb[mask]
            else:
                region[:] = frame_rgb
            yield canvas.copy(), delay_ms
            saw_frame = True
            if disposal == 2:
                region[:] = bg_rgb
            elif disposal == 3 and prev is not None:
                canvas = prev
            delay_ms, disposal, transparent = 0, 0, None
        elif b == 0x3B:  # trailer
            break
        else:
            pos += 1
    if not saw_frame:
        raise NotImplementedError("GIF stream has no image data")


def _decode_gif(content: bytes):
    """First composited frame -> (width, height, luminance array)."""
    canvas, _ = next(iter(_gif_frames(content)))
    h, w, _c = canvas.shape
    rgb = canvas.astype("float64")
    gray = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
            + 0.114 * rgb[..., 2]).ravel() / 255.0
    return w, h, gray


def synth_gif(width: int, height: int, pixel) -> bytes:
    """Tiny GIF89a writer for tests: 256-gray global palette;
    ``pixel`` is a callable (x, y) -> gray level 0-255 or an (h, w)
    uint8 numpy array of palette indexes. Uses the classic
    'uncompressed LZW' technique (literal codes + periodic CLEAR so
    the code width stays 9 bits)."""
    import struct

    import numpy as np

    if callable(pixel):
        idx = np.array([[pixel(x, y) for x in range(width)]
                        for y in range(height)], dtype=np.uint8)
    else:
        idx = np.asarray(pixel, dtype=np.uint8).reshape(height, width)
    return synth_animated_gif(width, height, [idx], delay_ms=0)


def synth_animated_gif(width: int, height: int, frames,
                       delay_ms: int = 100) -> bytes:
    """GIF89a writer for N full-canvas frames ((h, w) uint8 index
    arrays over the 256-gray palette) with a per-frame GCE delay."""
    import struct

    import numpy as np

    def lzw_literal(idx) -> bytearray:
        clear, end = 256, 257
        codes: list[int] = [clear]
        count = 0
        for p in np.asarray(idx, dtype=np.uint8).ravel().tolist():
            codes.append(p)
            count += 1
            if count == 250:  # stay inside 9-bit code space
                codes.append(clear)
                count = 0
        codes.append(end)
        val = nbits = 0
        buf = bytearray()
        for c in codes:  # LSB-first packing, fixed 9-bit codes
            val |= c << nbits
            nbits += 9
            while nbits >= 8:
                buf.append(val & 0xFF)
                val >>= 8
                nbits -= 8
        if nbits:
            buf.append(val & 0xFF)
        return buf

    out = bytearray()
    out += b"GIF89a" + struct.pack("<HH", width, height)
    out += bytes([0xF7, 0, 0])  # global color table, 256 entries
    out += bytes(v for i in range(256) for v in (i, i, i))
    for frame in frames:
        if delay_ms:
            out += bytes([0x21, 0xF9, 4, 0])  # GCE: disposal 0, no transp
            out += struct.pack("<H", delay_ms // 10) + bytes([0, 0])
        out += b"\x2C" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out.append(8)  # LZW min code size
        buf = lzw_literal(frame)
        for i in range(0, len(buf), 255):
            chunk = buf[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


# --------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81): stdlib+numpy decoder and a minimal test
# encoder. The decoder reads DQT/DHT/SOF0/SOS/DRI, Huffman-decodes the
# entropy stream (the only inherently sequential part), then runs
# dequantize + inverse-zigzag + IDCT + upsample + YCbCr->RGB as batched
# numpy over all blocks at once.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_matrix():
    import numpy as np

    x = np.arange(8.0)
    u = x.reshape(8, 1)
    c = np.full(8, 0.5)
    c[0] = 0.5 / np.sqrt(2.0)
    return (c.reshape(8, 1) * np.cos((2 * x + 1) * u * np.pi / 16.0))


class _JpegBitReader:
    """MSB-first bit reader over the destuffed entropy segment.

    The next-16-bit window is computed ON DEMAND from the byte buffer
    (one 4-byte slice + shift per symbol), so Huffman decoding is a
    single flat-LUT lookup per symbol with O(1) extra memory — an
    earlier precomputed-per-bit-offset table cost ~300 bytes of Python
    list per input BYTE, which OOMs workers on real multi-MB JPEGs.
    Restart-marker resync is a seek (``seek_byte``), not a reader
    rebuild, so DRI streams stay linear.
    """

    def __init__(self, data: bytes):
        self.data = data + b"\x00\x00\x00"  # window padding past EOF
        self.nbits = len(data) * 8
        self.pos = 0

    def seek_byte(self, byte_offset: int) -> None:
        self.pos = byte_offset * 8

    def _peek16(self) -> int:
        p = self.pos if self.pos < self.nbits else self.nbits
        byte_i = p >> 3
        window = int.from_bytes(self.data[byte_i:byte_i + 4], "big")
        return (window >> (16 - (p & 7))) & 0xFFFF

    def get_bits(self, n: int) -> int:
        if n == 0:
            return 0
        v = self._peek16() >> (16 - n)
        self.pos += n
        return v

    def read_code(self, lut) -> int:
        lut_sym, lut_len = lut
        v = self._peek16()
        length = lut_len[v]
        if length == 0:
            raise ValueError("invalid JPEG Huffman code")
        self.pos += length
        return lut_sym[v]


def _huffman_table(counts: list[int], symbols: bytes):
    """Canonical DHT -> flat 2^16 lookup: (sym[peek16], len[peek16])."""
    import numpy as np

    lut_sym = np.zeros(1 << 16, dtype=np.uint8)
    lut_len = np.zeros(1 << 16, dtype=np.uint8)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            start = code << (16 - length)
            span = 1 << (16 - length)
            lut_sym[start:start + span] = symbols[k]
            lut_len[start:start + span] = length
            code += 1
            k += 1
        code <<= 1
    return lut_sym.tolist(), lut_len.tolist()


def _extend(bits: int, s: int) -> int:
    return bits - (1 << s) + 1 if s and bits < (1 << (s - 1)) else bits


def _decode_jpeg(content: bytes):
    """Baseline-JPEG decode -> (width, height, gray float64 array).

    Supports SOF0 (baseline sequential) AND SOF2 (progressive:
    spectral selection + successive approximation, DC/AC first and
    refinement scans, EOB runs — ITU T.81 Annex G), 1 or 3 components,
    sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0), restart
    markers. Lossless/hierarchical/arithmetic SOFs raise
    NotImplementedError. Luminance uses the same
    BT.601-over-decoded-RGB formula as the BMP/PNG kernels (for JPEG
    the round trip is Y itself when no RGB clamping occurs).
    """
    import struct

    import numpy as np

    qt: dict[int, object] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    width = height = 0
    restart_interval = 0
    progressive = False
    hmax = vmax = mcux = mcuy = 0
    got_scan = False
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            pos += 1
            continue
        marker = content[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen, = struct.unpack_from(">H", content, pos + 2)
        seg = content[pos + 4: pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                if pq:  # 16-bit table
                    tbl = np.frombuffer(seg, dtype=">u2", count=64, offset=i + 1)
                    i += 129
                else:
                    tbl = np.frombuffer(seg, dtype=np.uint8, count=64, offset=i + 1)
                    i += 65
                qt[tq] = tbl.astype(np.float64)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1: i + 17])
                n = sum(counts)
                huff[(tc, th)] = _huffman_table(counts, seg[i + 17: i + 17 + n])
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive. SOF1 at 8-bit precision is bit-identical to
            # baseline decoding (it only LIFTS limits: 12-bit samples,
            # 4 Huffman tables) — so it rides the SOF0 path; 12-bit
            # precision stays an honest guard.
            progressive = marker == 0xC2
            if seg[0] != 8:
                raise NotImplementedError(
                    f"JPEG {seg[0]}-bit sample precision unsupported")
            height, width = struct.unpack_from(">HH", seg, 1)
            _check_dims(width, height, "JPEG")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c: 9 + 3 * c]
                h, v = hv >> 4, hv & 15
                if h < 1 or v < 1 or h > 4 or v > 4:
                    raise ValueError(
                        f"JPEG: invalid sampling factor {h}x{v} "
                        f"for component {cid}")
                comps.append({"id": cid, "h": h, "v": v, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            if progressive:
                # coefficient grids accumulate across scans (int: the
                # successive-approximation bit ops need exact integers)
                for c in comps:
                    c["bw"] = mcux * c["h"]
                    c["bh"] = mcuy * c["v"]
                    c["coef"] = np.zeros((c["bh"] * c["bw"], 64),
                                         dtype=np.int32)
                    c["pred"] = 0
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} "
                "(lossless/hierarchical/arithmetic) unsupported")
        elif marker == 0xDD:  # DRI
            restart_interval, = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ncomp = seg[0]
            scan = []
            if comps is None:
                raise ValueError("JPEG: SOS before SOF")
            for c in range(ncomp):
                cid, tt = seg[1 + 2 * c: 3 + 2 * c]
                comp = next((cc for cc in comps if cc["id"] == cid), None)
                if comp is None:
                    raise ValueError(
                        f"JPEG: SOS references undeclared component {cid}")
                scan.append((comp, tt >> 4, tt & 15))
            data_start = pos + 2 + seglen
            if not progressive:
                return _decode_jpeg_scan(
                    content, data_start, width, height, scan, qt, huff,
                    restart_interval)
            ss = seg[1 + 2 * ncomp]
            se = seg[2 + 2 * ncomp]
            ahal = seg[3 + 2 * ncomp]
            data, rst_bounds, end = _destuff_entropy(content, data_start)
            _decode_progressive_scan(
                data, rst_bounds, scan, ss, se, ahal >> 4, ahal & 15,
                huff, restart_interval, mcux, mcuy, hmax, vmax,
                width, height)
            got_scan = True
            pos = data_start + end
            continue
        elif marker == 0xD9:  # EOI
            break
        pos += 2 + seglen
    if progressive and got_scan:
        return _jpeg_reconstruct(comps, qt, width, height, hmax, vmax)
    raise NotImplementedError("JPEG stream has no decodable scan")


def _decode_progressive_scan(data, rst_bounds, scan, ss, se, ah, al,
                             huff, restart_interval, mcux, mcuy,
                             hmax, vmax, width, height):
    """One progressive (SOF2) scan, accumulated into the components'
    integer coefficient grids — ITU T.81 Annex G semantics:

    - DC first (Ss=0, Ah=0): baseline-style DC-diff coding of the
      point-transformed value, stored ``<< Al``; may be interleaved.
    - DC refinement (Ss=0, Ah>0): one raw bit per block, OR'd at Al.
    - AC first (Ss>0, Ah=0): single component, band Ss..Se, EOB-run
      coding across blocks; coefficients stored ``<< Al``.
    - AC refinement (Ss>0, Ah>0): per T.81 G.2 — newly-nonzero
      coefficients arrive as ±1<<Al; every already-nonzero coefficient
      traversed (including inside EOB runs) consumes one correction
      bit that may set its next-lower magnitude bit.

    Non-interleaved scans iterate the component's OWN block grid
    (ceil(comp_width/8) x ceil(comp_height/8)) — narrower than the
    MCU-padded grid the coefficients live in.
    """
    reader = _JpegBitReader(data)
    eobrun = 0
    rst_idx = 0
    mcu_since_rst = 0
    for c, _, _ in scan:
        c["pred"] = 0  # every scan restarts DC prediction
    p1, m1 = 1 << al, -(1 << al)

    def dc_block(c, td, idx):
        tbl = huff[(0, td)]
        if ah == 0:  # first scan: diff-coded point-transformed DC
            s = reader.read_code(tbl)
            diff = _extend(reader.get_bits(s), s) if s else 0
            c["pred"] += diff
            c["coef"][idx, 0] = c["pred"] << al
        else:  # refinement: one raw bit
            if reader.get_bits(1):
                c["coef"][idx, 0] |= p1

    def ac_first_block(blk):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        ac_tbl = huff[(1, scan[0][2])]
        k = ss
        while k <= se:
            rs = reader.read_code(ac_tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.get_bits(r)
                    return
                k += 16  # ZRL
            else:
                k += r
                if k > se:
                    raise ValueError("JPEG AC run past band end")
                blk[k] = _extend(reader.get_bits(s), s) << al
                k += 1

    def ac_refine_block(blk):
        nonlocal eobrun
        ac_tbl = huff[(1, scan[0][2])]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.read_code(ac_tbl)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.get_bits(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("bad AC refinement magnitude")
                    val = p1 if reader.get_bits(1) else m1
                # advance over zero-history positions, spending one
                # correction bit on each nonzero-history coefficient
                while k <= se:
                    cv = int(blk[k])
                    if cv != 0:
                        if reader.get_bits(1) and (cv & p1) == 0:
                            blk[k] = cv + (p1 if cv >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if eobrun > 0:
            # blocks inside an EOB run still carry correction bits for
            # their nonzero-history coefficients in the band
            while k <= se:
                cv = int(blk[k])
                if cv != 0:
                    if reader.get_bits(1) and (cv & p1) == 0:
                        blk[k] = cv + (p1 if cv >= 0 else m1)
                k += 1
            eobrun -= 1

    interleaved = len(scan) > 1
    if interleaved:
        n_units = mcux * mcuy
    else:
        c = scan[0][0]
        cw = -(-(width * c["h"]) // hmax)   # component pixel dims
        chh = -(-(height * c["v"]) // vmax)
        cwb, chb = -(-cw // 8), -(-chh // 8)
        n_units = cwb * chb

    for u in range(n_units):
        if restart_interval and mcu_since_rst == restart_interval:
            if rst_idx < len(rst_bounds):
                reader.seek_byte(rst_bounds[rst_idx])
                rst_idx += 1
            for c, _, _ in scan:
                c["pred"] = 0
            eobrun = 0
            mcu_since_rst = 0
        if interleaved:  # DC scans only (AC must be single-component)
            my, mx = divmod(u, mcux)
            for c, td, _ in scan:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        row = my * c["v"] + by
                        col = mx * c["h"] + bx
                        dc_block(c, td, row * c["bw"] + col)
        else:
            c, td, _ = scan[0]
            row, col = divmod(u, cwb)
            idx = row * c["bw"] + col
            if ss == 0:
                dc_block(c, td, idx)
            elif ah == 0:
                ac_first_block(c["coef"][idx])
            else:
                ac_refine_block(c["coef"][idx])
        mcu_since_rst += 1


def _destuff_entropy(content: bytes, start: int):
    """Vectorized entropy-segment destuff (FF00 -> FF, RSTn removed
    with boundary offsets recorded, stop at any other marker): one
    np.where pass + one np.delete instead of a per-byte Python loop —
    multi-MB entropy segments destuff at memory bandwidth.

    Returns (data, rst_bounds, end): destuffed bytes, destuffed byte
    offsets just past each RSTn, and the offset (relative to ``start``)
    of the terminating marker's FF (== segment length if none found).
    """
    import numpy as np

    arr = np.frombuffer(content, np.uint8)[start:]
    ffpos = np.where(arr[:-1] == 0xFF)[0] if len(arr) > 1 else np.empty(0, np.int64)
    nxt = arr[ffpos + 1]
    is_stuff = nxt == 0x00
    is_rst = (nxt >= 0xD0) & (nxt <= 0xD7)
    is_term = ~(is_stuff | is_rst)
    if is_term.any():
        end = int(ffpos[is_term][0])
    elif len(arr) and arr[-1] == 0xFF:  # dangling FF at EOF
        end = len(arr) - 1
    else:
        end = len(arr)
    sel = ffpos < end
    ffp, st, rs = ffpos[sel], is_stuff[sel], is_rst[sel]
    delete = np.concatenate([ffp[st] + 1, ffp[rs], ffp[rs] + 1])
    delete = np.sort(delete[delete < end])
    data = np.delete(arr[:end], delete).tobytes()
    # destuffed offset of the byte after each RST marker
    rst_orig = ffp[rs] + 2
    rst_bounds = (rst_orig - np.searchsorted(delete, rst_orig)).tolist()
    return data, rst_bounds, end


def _jpeg_reconstruct(comps, qt, width, height, hmax, vmax):
    """Shared tail of baseline AND progressive decode: batched
    dequantize + inverse zigzag + einsum IDCT over every block of every
    component at once, chroma upsample, YCbCr->gray. ``comps`` is the
    frame-ordered component list carrying coef (n_blocks, 64) arrays in
    zigzag order."""
    import numpy as np

    C = _dct_matrix()
    inv_zz = np.empty(64, dtype=np.int64)
    inv_zz[np.array(_ZIGZAG)] = np.arange(64)
    planes = []
    for c in comps:
        coef = c["coef"].astype(np.float64) * qt[c["tq"]][np.newaxis, :]
        blocks = coef[:, inv_zz].reshape(-1, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", C, blocks, C) + 128.0
        grid = spatial.reshape(c["bh"], c["bw"], 8, 8).transpose(0, 2, 1, 3)
        plane = grid.reshape(c["bh"] * 8, c["bw"] * 8)
        # chroma upsample by pixel replication to the luma grid
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:height, :width])

    if len(planes) == 1:
        rgb = np.clip(np.round(planes[0]), 0, 255)
        gray = rgb.ravel() / 255.0
    else:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255)
        flat = rgb.reshape(-1, 3)
        gray = (0.299 * flat[:, 0] + 0.587 * flat[:, 1]
                + 0.114 * flat[:, 2]) / 255.0
    return width, height, gray


def _decode_jpeg_scan(content, start, width, height, scan, qt, huff,
                      restart_interval):
    import numpy as np

    data, rst_bounds, _ = _destuff_entropy(content, start)

    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    # per-component coefficient block grids
    for c, _, _ in scan:
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.float64)
        c["pred"] = 0

    reader = _JpegBitReader(data)
    n_mcu = mcux * mcuy
    mcu_since_rst = 0
    rst_idx = 0
    for m in range(n_mcu):
        if restart_interval and mcu_since_rst == restart_interval:
            # resync to the recorded restart boundary
            if rst_idx < len(rst_bounds):
                reader.seek_byte(rst_bounds[rst_idx])  # O(1) resync
                rst_idx += 1
            for c, _, _ in scan:
                c["pred"] = 0
            mcu_since_rst = 0
        my, mx = divmod(m, mcux)
        for c, td, ta in scan:
            dc_tbl, ac_tbl = huff[(0, td)], huff[(1, ta)]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    blk = [0.0] * 64  # python list: ~3x faster fill loop
                    s = reader.read_code(dc_tbl)
                    diff = _extend(reader.get_bits(s), s) if s else 0
                    c["pred"] += diff
                    blk[0] = c["pred"]
                    k = 1
                    while k < 64:
                        rs = reader.read_code(ac_tbl)
                        r, sz = rs >> 4, rs & 15
                        if sz == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC run past block end")
                        blk[k] = _extend(reader.get_bits(sz), sz)
                        k += 1
                    row = my * c["v"] + by
                    col = mx * c["h"] + bx
                    c["coef"][row * c["bw"] + col] = blk
        mcu_since_rst += 1

    return _jpeg_reconstruct([c for c, _, _ in scan], qt, width, height,
                             hmax, vmax)


def _accelerated_image_decoder():
    """Import-try a native codec library for the accelerated decode
    path. Per-asset entropy decode (JPEG Huffman, GIF LZW) is
    inherently bit-serial, so the pure-Python decoders top out around
    1-5 MB/s/core — correct, and the ONLY per-asset-sequential stage
    in the pipeline, but a throughput ceiling on a 100 TB image
    corpus. When Pillow is installed on the executors (it is NOT in
    this build environment — the pure decoders are the tested,
    deterministic default), ``image_features(decoder='auto'|'accel')``
    routes decode through it at native-codec speed while the
    luminance/embedding math stays OURS (identical downstream
    numerics; only the DCT rounding of lossy JPEG may differ by ±1
    LSB between IDCT implementations, which is why 'builtin' stays
    the default for oracle-exact runs).

    Returns the PIL.Image module or None.
    """
    try:
        from PIL import Image  # noqa: F401
        return Image
    except ImportError:
        return None


def _decode_image_accel(content: bytes, dim: int, pil_image) -> tuple:
    """Decode via Pillow, then the same _luminance/_gray_embedding
    tail as the builtin decoders (identical embedding math)."""
    import io

    import numpy as np

    try:
        img = pil_image.open(io.BytesIO(bytes(content or b"")))
        img = img.convert("RGB")
    except Exception as e:  # PIL's own error types -> decode failure
        raise ValueError(f"accelerated decode failed: {e}") from e
    arr = np.asarray(img, dtype=np.uint8)
    h, w = arr.shape[:2]
    gray = _luminance(arr.reshape(-1, 3), 3)
    return w, h, _gray_embedding(gray, w, h, dim)


def synth_jpeg(width: int, height: int, pixel, quality_qtable=None,
               subsample: bool = False, restart_interval: int = 0,
               progressive: bool = False) -> bytes:
    """Minimal JPEG encoder for tests: 4:4:4 (or 4:2:0 with
    ``subsample=True``), one shared quant table (default all-ones =
    highest quality; a gray-uniform image round-trips bit-exactly), one
    shared DC and AC Huffman table (a simple canonical fixed-width code
    — the decoder reads whatever DHT declares, so Annex-K parity is
    unnecessary). ``pixel`` is either a callable (x, y) -> (r, g, b) or
    an (h, w, 3) uint8 numpy array.

    ``progressive=True`` emits an SOF2 stream with a 10-scan script
    exercising every progressive scan type: interleaved DC first
    (Al=1) + DC refinement, per-component AC first scans with split
    spectral bands and Al in {1, 2}, and AC refinement passes
    (including a two-step Al 2->1->0 chain on luma) with cross-block
    EOB runs, buffered correction bits, and ZRL. All scans together
    transmit every coefficient bit, so progressive and baseline
    encodings of the same image decode identically (over the visible
    region). ``restart_interval`` applies to baseline mode only.
    """
    import struct

    import numpy as np

    if callable(pixel):
        img = np.empty((height, width, 3), dtype=np.float64)
        for yy in range(height):
            for xx in range(width):
                img[yy, xx] = pixel(xx, yy)
    else:
        img = np.asarray(pixel, dtype=np.float64)
    q = (np.ones(64) if quality_qtable is None
         else np.asarray(quality_qtable, dtype=np.float64).ravel())

    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    fh, fw = mcuy * 8 * vmax, mcux * 8 * hmax  # full-res padded grid
    C = _dct_matrix()
    zz = np.array(_ZIGZAG)

    def encode_plane(plane, hh, vv):
        padded = np.pad(plane, ((0, fh - height), (0, fw - width)), mode="edge")
        ry, rx = vmax // vv, hmax // hh
        if ry > 1 or rx > 1:  # chroma box-mean downsample
            padded = padded.reshape(fh // ry, ry, fw // rx, rx).mean(axis=(1, 3))
        bh, bw = mcuy * vv, mcux * hh
        blocks = (padded.reshape(bh, 8, bw, 8)
                  .transpose(0, 2, 1, 3).reshape(-1, 8, 8)) - 128.0
        freq = np.einsum("ux,nxy,vy->nuv", C, blocks, C)
        quant = np.round(freq.reshape(-1, 64) / q[np.newaxis, :])
        return quant[:, zz].astype(np.int64).reshape(bh, bw, 64)  # zigzag

    planes = [encode_plane(p, hh, vv)
              for p, (hh, vv) in zip((y, cb, cr), samp)]

    # canonical code: symbols 0,1 get 8-bit codes 0,1; symbols 2..255
    # get 9-bit codes 4..257 (never all-ones)
    def code_of(sym):
        return (8, sym) if sym < 2 else (9, sym + 2)

    counts = [0] * 16
    counts[7], counts[8] = 2, 254
    symbols = bytes(range(256))

    out_bits: list[int] = []

    def put(nbits, value):
        for i in range(nbits - 1, -1, -1):
            out_bits.append((value >> i) & 1)

    def put_code(sym):
        n, v = code_of(sym)
        put(n, v)

    def put_block(blk, ci):
        diff = int(blk[0]) - preds[ci]
        preds[ci] = int(blk[0])
        s = int(abs(diff)).bit_length()
        put_code(s)
        if s:
            put(s, diff if diff >= 0 else diff + (1 << s) - 1)
        run = 0
        for k in range(1, 64):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                put_code(0xF0)  # ZRL
                run -= 16
            s = abs(v).bit_length()
            put_code((run << 4) | s)
            put(s, v if v >= 0 else v + (1 << s) - 1)
            run = 0
        if run:
            put_code(0x00)  # EOB

    def pack_segment(bits) -> bytearray:
        # pad with 1s to a byte, stuff 0x00 after 0xFF
        while len(bits) % 8:
            bits.append(1)
        seg = bytearray()
        if bits:
            byts = np.packbits(
                np.array(bits, dtype=np.uint8).reshape(-1, 8), axis=1
            ).ravel()
            for bt in byts.tolist():
                seg.append(bt)
                if bt == 0xFF:
                    seg.append(0x00)
        return seg

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    dqt = seg(0xDB, bytes([0]) + bytes(int(v) for v in q))
    sof_comps = b"".join(
        bytes([cid, (hh << 4) | vv, 0])
        for cid, (hh, vv) in zip((1, 2, 3), samp)
    )
    dht = (seg(0xC4, bytes([0x00]) + bytes(counts) + symbols)
           + seg(0xC4, bytes([0x10]) + bytes(counts) + symbols))

    if progressive:
        body = _synth_jpeg_progressive_scans(
            planes, samp, mcux, mcuy, hmax, vmax, width, height,
            put, put_code, out_bits, pack_segment, seg)
        sof = seg(0xC2, struct.pack(">BHHB", 8, height, width, 3) + sof_comps)
        return b"\xff\xd8" + dqt + sof + dht + body + b"\xff\xd9"

    preds = [0, 0, 0]
    entropy = bytearray()
    rst_n = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            # byte-align the interval, emit RSTn (not stuffed), reset DC
            entropy += pack_segment(out_bits)
            entropy += bytes([0xFF, 0xD0 + rst_n])
            rst_n = (rst_n + 1) % 8
            out_bits.clear()
            preds = [0, 0, 0]
        my, mx = divmod(m, mcux)
        for ci, (plane, (hh, vv)) in enumerate(zip(planes, samp)):
            for by in range(vv):
                for bx in range(hh):
                    put_block(plane[my * vv + by, mx * hh + bx], ci)
    entropy += pack_segment(out_bits)

    dri = (seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    sof = seg(0xC0, struct.pack(">BHHB", 8, height, width, 3) + sof_comps)
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + dri + sof + dht + sos + bytes(entropy)
            + b"\xff\xd9")


def _synth_jpeg_progressive_scans(planes, samp, mcux, mcuy, hmax, vmax,
                                  width, height, put, put_code, out_bits,
                                  pack_segment, seg):
    """Entropy-code the 10-scan progressive script (see synth_jpeg).
    Returns the concatenated SOS+entropy segments. Encoder-side T.81
    Annex G: EOB runs accumulate across blocks and are flushed before
    any ZRL / newly-nonzero code; refinement scans buffer correction
    bits for already-nonzero coefficients and append them after the
    Huffman code (or EOB) that skips over them."""
    # (kind, comp index or None=interleaved, Ss, Se, Ah, Al)
    script = [
        ("dc_first", None, 0, 0, 0, 1),
        ("ac_first", 0, 1, 5, 0, 2),
        ("ac_first", 0, 6, 63, 0, 2),
        ("ac_first", 1, 1, 63, 0, 1),
        ("ac_first", 2, 1, 63, 0, 1),
        ("ac_refine", 0, 1, 63, 2, 1),
        ("dc_refine", None, 0, 0, 1, 0),
        ("ac_refine", 0, 1, 63, 1, 0),
        ("ac_refine", 1, 1, 63, 1, 0),
        ("ac_refine", 2, 1, 63, 1, 0),
    ]

    def comp_blocks(ci):
        hh, vv = samp[ci]
        cw = -(-(width * hh) // hmax)
        chh = -(-(height * vv) // vmax)
        return -(-cw // 8), -(-chh // 8)

    def mcu_blocks():  # interleaved DC order: MCU, component, v, h
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            for cj, (plane, (hh, vv)) in enumerate(zip(planes, samp)):
                for by in range(vv):
                    for bx in range(hh):
                        yield plane[my * vv + by, mx * hh + bx]

    body = b""
    for kind, ci, sss, sse, sah, sal in script:
        out_bits.clear()
        if kind == "dc_first":
            preds = [0, 0, 0]
            mi = 0
            nblk = sum(hh * vv for hh, vv in samp)
            for bi, blk in enumerate(mcu_blocks()):
                cj = 0  # recover component from interleave position
                pos_in_mcu = bi % nblk
                acc = 0
                for j, (hh, vv) in enumerate(samp):
                    if pos_in_mcu < acc + hh * vv:
                        cj = j
                        break
                    acc += hh * vv
                dc = int(blk[0]) >> sal  # arithmetic shift: DC point transform
                diff = dc - preds[cj]
                preds[cj] = dc
                s = abs(diff).bit_length()
                put_code(s)
                if s:
                    put(s, diff if diff >= 0 else diff + (1 << s) - 1)
                mi += 1
        elif kind == "dc_refine":
            for blk in mcu_blocks():
                put(1, (int(blk[0]) >> sal) & 1)
        elif kind == "ac_first":
            plane = planes[ci]
            cwb, chb = comp_blocks(ci)
            eob_n = 0

            def emit_eob():
                nonlocal eob_n
                if eob_n == 0:
                    return
                nb = eob_n.bit_length() - 1
                put_code(nb << 4)
                if nb:
                    put(nb, eob_n - (1 << nb))
                eob_n = 0

            for u in range(cwb * chb):
                row, col = divmod(u, cwb)
                blk = plane[row, col]
                r = 0
                for k in range(sss, sse + 1):
                    v = int(blk[k])
                    v = (v >> sal) if v >= 0 else -((-v) >> sal)  # toward 0
                    if v == 0:
                        r += 1
                        continue
                    emit_eob()
                    while r > 15:
                        put_code(0xF0)
                        r -= 16
                    s = abs(v).bit_length()
                    put_code((r << 4) | s)
                    put(s, v if v >= 0 else v + (1 << s) - 1)
                    r = 0
                if r:
                    eob_n += 1
                    if eob_n == 0x7FFF:
                        emit_eob()
            emit_eob()
        else:  # ac_refine
            plane = planes[ci]
            cwb, chb = comp_blocks(ci)
            eob_n = 0
            be_bits: list[int] = []

            def emit_eob_r():
                nonlocal eob_n, be_bits
                if eob_n > 0:
                    nb = eob_n.bit_length() - 1
                    put_code(nb << 4)
                    if nb:
                        put(nb, eob_n - (1 << nb))
                    eob_n = 0
                for bb in be_bits:
                    put(1, bb)
                be_bits = []

            for u in range(cwb * chb):
                row, col = divmod(u, cwb)
                blk = plane[row, col]
                absv = [abs(int(blk[k])) >> sal for k in range(sss, sse + 1)]

                def t(k):
                    return absv[k - sss]

                # Mirror the decoder's advance loops exactly: each
                # ZRL / newly-nonzero code is followed by correction
                # bits for ONLY the already-nonzero coefficients its
                # own advance span passes over.
                pos = sss
                while pos <= sse:
                    nz = next((k for k in range(pos, sse + 1)
                               if t(k) == 1), None)
                    if nz is None:
                        break  # no more newly-nonzero: EOB territory
                    z = sum(1 for k in range(pos, nz) if t(k) == 0)
                    while z > 15:
                        emit_eob_r()
                        put_code(0xF0)
                        consumed = 0  # ZRL span: exactly 16 zeros
                        while consumed < 16:
                            tv = t(pos)
                            if tv == 0:
                                consumed += 1
                            elif tv > 1:
                                put(1, tv & 1)
                            pos += 1
                        z -= 16
                    emit_eob_r()
                    put_code((z << 4) | 1)
                    put(1, 1 if int(blk[nz]) > 0 else 0)
                    while pos < nz:  # code's advance span corrections
                        if t(pos) > 1:
                            put(1, t(pos) & 1)
                        pos += 1
                    pos = nz + 1
                if pos <= sse:  # trailing band folds into the EOB run,
                    eob_n += 1  # carrying its correction bits
                    be_bits.extend(t(k) & 1 for k in range(pos, sse + 1)
                                   if t(k) > 1)
                    if eob_n == 0x7FFF:
                        emit_eob_r()
            emit_eob_r()

        entropy = pack_segment(out_bits)
        if ci is None:
            comps_hdr = bytes([3]) + b"".join(
                bytes([cid, 0x00]) for cid in (1, 2, 3))
        else:
            comps_hdr = bytes([1, ci + 1, 0x00])
        sos_payload = comps_hdr + bytes([sss, sse, (sah << 4) | sal])
        body += seg(0xDA, sos_payload) + bytes(entropy)
    return body


def _fake_image_features(content: Optional[bytes], dim: int = 8):
    import hashlib

    h = hashlib.sha256(content or b"").digest()
    w = 64 + h[0]  # content-derived, deterministic
    ht = 64 + h[1]
    emb = [((h[i] / 255.0) * 2 - 1) for i in range(dim)]
    return w, ht, emb


def image_features(
    assets: DataFrame,
    deterministic_fake: bool = False,
    embedding_dim: int = 8,
    batch_hint: int = 256,
    on_error: str = "fail",
    decoder: str = "builtin",
) -> DataFrame:
    """Decode + embed image assets via Arrow-batched mapInPandas.

    Partition-parallel; each Python worker sees pandas batches of
    (asset_id, content) only — column pruning keeps bytes out of rows
    that don't need them.

    ``on_error``: 'fail' (default — any undecodable asset raises, the
    correctness-first mode), 'null' (emit the row with null
    width/height/embedding — at corpus scale one corrupt or
    unsupported file must not kill a 10^9-asset job; count the nulls
    downstream), or 'skip' (drop the row).

    ``decoder``: 'builtin' (default — the tested pure stdlib+numpy
    decoders, bit-deterministic everywhere), 'auto' (use a native
    codec library when importable on the executor, else builtin — the
    100 TB throughput knob; see _accelerated_image_decoder), or
    'accel' (require the library; the task fails at start if it is
    absent).
    """
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"on_error must be fail|null|skip, got {on_error!r}")
    if decoder not in ("builtin", "auto", "accel"):
        raise ValueError(
            f"decoder must be builtin|auto|accel, got {decoder!r}")
    pruned = _spread_narrow(assets.select("asset_id", "content"))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        pil = (_accelerated_image_decoder()
               if decoder in ("auto", "accel") else None)
        if decoder == "accel" and pil is None:
            raise NotImplementedError(
                "decoder='accel' requires Pillow on the executors; "
                "use 'auto' to fall back to the builtin decoders")

        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [], "embedding": []}
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                try:
                    if deterministic_fake:
                        w, h, emb = _fake_image_features(content, embedding_dim)
                    elif pil is not None:
                        w, h, emb = _decode_image_accel(
                            content, embedding_dim, pil)
                    else:
                        w, h, emb = _decode_image(content, embedding_dim)
                except DECODE_ERRORS:
                    if on_error == "fail":
                        raise
                    if on_error == "skip":
                        continue
                    w = h = emb = None
                out["asset_id"].append(aid)
                out["width"].append(w)
                out["height"].append(h)
                out["embedding"].append(emb)
            if out["asset_id"]:
                # an all-skipped batch must not yield: an empty pandas
                # frame defaults columns to float64, which Arrow can't
                # cast to list<double>
                yield pd.DataFrame(out)

    return pruned.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("src_width", LongType(), True),
        StructField("src_height", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("frame", BinaryType(), True),
        StructField("mean_luma", DoubleType(), True),
    ]
)


def _encode_png_gray(px8) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (colortype 0, filter 0 rows,
    one zlib IDAT) — the emit side of resize_images; round-trips
    exactly through _decode_image."""
    import struct
    import zlib

    import numpy as np

    px8 = np.asarray(px8, dtype=np.uint8)
    h, w = px8.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    raw = b"".join(b"\x00" + px8[r].tobytes() for r in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def _box_resize(g, out_h: int, out_w: int):
    """Exact box-average (area) resample of a 2-D float array: output
    cell (i, j) is the mean of input box [i·h/oh, (i+1)·h/oh) x
    [j·w/ow, (j+1)·w/ow); upscaled axes degrade to nearest-pixel
    (every box clamps to >= 1 input cell). Two cumsums — O(h·w),
    deterministic float64 summation order."""
    import numpy as np

    g = np.asarray(g, dtype=np.float64)
    h, w = g.shape

    def bounds(n_in, n_out):
        lo = (np.arange(n_out, dtype=np.int64) * n_in) // n_out
        hi = np.maximum(
            (np.arange(1, n_out + 1, dtype=np.int64) * n_in) // n_out,
            lo + 1)
        return lo, hi

    lr, hr = bounds(h, out_h)
    lc, hc = bounds(w, out_w)
    cr = np.zeros((h + 1, w), dtype=np.float64)
    np.cumsum(g, axis=0, out=cr[1:])
    rows = (cr[hr] - cr[lr]) / (hr - lr)[:, None]
    cc = np.zeros((out_h, w + 1), dtype=np.float64)
    np.cumsum(rows, axis=1, out=cc[:, 1:])
    return (cc[:, hc] - cc[:, lc]) / (hc - lc)[None, :]


def resize_images(
    assets: DataFrame,
    out_w: int,
    out_h: int,
    on_error: str = "fail",
) -> DataFrame:
    """Resize image assets to (out_w, out_h) — the standardize-and-
    thumbnail step of a multimodal training pipeline (driver brief's
    decode / feature-extract / RESIZE / frame-sample set). Decodes via
    the builtin stdlib+numpy decoders (BMP/PNG/JPEG/GIF/TIFF),
    box-average (area) resamples the luminance plane — the exact,
    deterministic kernel; upscaled axes degrade to nearest-pixel — and
    emits each result as an 8-bit grayscale PNG (round-trips exactly
    through _decode_image; pinned by pytest) plus the resized mean
    luminance in [0, 1].

    Arrow-batched mapInPandas over (asset_id, content) only —
    per-asset work, zero shuffle, same ``on_error`` fail|null|skip
    corpus-tolerance contract as image_features.
    """
    import numpy as np

    if out_w <= 0 or out_h <= 0:
        raise ValueError(
            f"output dims must be positive, got {out_w}x{out_h}")
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"on_error must be fail|null|skip, got {on_error!r}")
    pruned = _spread_narrow(assets.select("asset_id", "content"))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"asset_id": [], "src_width": [], "src_height": [],
                   "width": [], "height": [], "frame": [], "mean_luma": []}
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                # only the DECODE sits inside the policy guard: a
                # failure in the resize/encode kernels is an engine
                # bug, and under on_error='null'/'skip' it must fail
                # the job, not masquerade as a corrupt asset
                # (module policy, see DECODE_ERRORS note above)
                try:
                    w, h, gray = _decode_image(bytes(content or b""),
                                               dim=None)
                except DECODE_ERRORS:
                    if on_error == "fail":
                        raise
                    if on_error == "skip":
                        continue
                    vals = (None, None, None, None, None, None)
                else:
                    resized = _box_resize(gray.reshape(h, w), out_h, out_w)
                    px8 = np.clip(np.rint(resized * 255.0), 0, 255) \
                        .astype(np.uint8)
                    frame = _encode_png_gray(px8)
                    vals = (int(w), int(h), int(out_w), int(out_h), frame,
                            round(float(resized.mean()), 6))
                out["asset_id"].append(aid)
                for key, v in zip(("src_width", "src_height", "width",
                                   "height", "frame", "mean_luma"), vals):
                    out[key].append(v)
            if out["asset_id"]:
                yield pd.DataFrame(out)

    return pruned.mapInPandas(run, RESIZE_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("mfcc", ArrayType(DoubleType()), True),
    ]
)


def _mel_filterbank(n_mels: int, n_fft_bins: int, rate: int):
    """Triangular mel filterbank (HTK mel scale), rows L1-normalized —
    the standard construction, pure numpy (no librosa needed)."""
    import numpy as np

    def hz_to_mel(f):
        return 2595.0 * np.log10(1.0 + f / 700.0)

    def mel_to_hz(m):
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    mel_pts = np.linspace(hz_to_mel(0.0), hz_to_mel(rate / 2.0), n_mels + 2)
    hz_pts = mel_to_hz(mel_pts)
    bin_f = np.linspace(0.0, rate / 2.0, n_fft_bins)
    fb = np.zeros((n_mels, n_fft_bins))
    for m in range(n_mels):
        lo, mid, hi = hz_pts[m], hz_pts[m + 1], hz_pts[m + 2]
        up = (bin_f - lo) / max(mid - lo, 1e-12)
        down = (hi - bin_f) / max(hi - mid, 1e-12)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
        s = fb[m].sum()
        if s > 0:
            fb[m] /= s
    return fb


class _FlacBitReader:
    """MSB-first bit reader for FLAC streams: n-bit reads (composed
    from the JPEG reader's on-demand 16-bit window trick), signed
    two's-complement reads, unary (rice quotient) via leading-zero
    count on the window, and byte alignment. Raises past EOF."""

    def __init__(self, data: bytes, bit_pos: int = 0):
        self.data = data + b"\x00\x00\x00"
        self.nbits = len(data) * 8
        self.pos = bit_pos

    def _peek16(self) -> int:
        byte_i = self.pos >> 3
        window = int.from_bytes(self.data[byte_i:byte_i + 4], "big")
        return (window >> (16 - (self.pos & 7))) & 0xFFFF

    def bits(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise ValueError("FLAC: read past end of stream")
        v = 0
        while n > 16:
            v = (v << 16) | (self._peek16())
            self.pos += 16
            n -= 16
        if n:
            v = (v << n) | (self._peek16() >> (16 - n))
            self.pos += n
        return v

    def sbits(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if n and v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        n = 0
        while True:
            if self.pos >= self.nbits:
                raise ValueError("FLAC: unary read past end of stream")
            w = self._peek16()
            if w == 0:
                self.pos += 16
                n += 16
                continue
            lead = 16 - w.bit_length()
            self.pos += lead + 1
            return n + lead

    def align_byte(self) -> None:
        self.pos = (self.pos + 7) & ~7


_FLAC_FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                    4: [4, -6, 4, -1]}


def _flac_residual(r: "_FlacBitReader", bsz: int, order: int) -> list[int]:
    """Partitioned rice-coded residual (FLAC spec 9.2.7): 2-bit method
    selects 4- or 5-bit rice parameters, 2^partition_order partitions,
    all-ones parameter escapes to fixed-width verbatim residuals.
    Unsigned rice values unmap via zigzag."""
    method = r.bits(2)
    if method > 1:
        raise ValueError(f"FLAC: reserved residual method {method}")
    pbits = 4 + method
    esc = (1 << pbits) - 1
    porder = r.bits(4)
    nparts = 1 << porder
    if bsz % nparts:
        raise ValueError("FLAC: partition order does not divide block")
    out: list[int] = []
    for p in range(nparts):
        n = (bsz >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC: negative partition sample count")
        param = r.bits(pbits)
        if param == esc:
            raw = r.bits(5)
            out.extend(r.sbits(raw) if raw else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = r.unary()
                u = (q << param) | (r.bits(param) if param else 0)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _flac_subframe(r: "_FlacBitReader", bsz: int, bps: int):
    """One subframe (FLAC spec 9.2.5-9.2.6): CONSTANT / VERBATIM /
    FIXED order 0-4 / LPC order 1-32, optional wasted-bits shift."""
    import numpy as np

    if r.bits(1):
        raise ValueError("FLAC: subframe padding bit set")
    t = r.bits(6)
    wasted = 0
    if r.bits(1):
        wasted = r.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC: wasted bits exceed sample size")
    if t == 0:  # CONSTANT
        vals = np.full(bsz, r.sbits(eff), dtype=np.int64)
    elif t == 1:  # VERBATIM
        vals = np.array([r.sbits(eff) for _ in range(bsz)], dtype=np.int64)
    elif 8 <= t <= 12:  # FIXED
        order = t - 8
        warm = [r.sbits(eff) for _ in range(order)]
        res = _flac_residual(r, bsz, order)
        coef = _FLAC_FIXED_COEF[order]
        s = list(warm)
        for i in range(order, bsz):
            pred = sum(c * s[i - 1 - j] for j, c in enumerate(coef))
            s.append(pred + res[i - order])
        vals = np.array(s, dtype=np.int64)
    elif t >= 32:  # LPC
        order = t - 31
        warm = [r.sbits(eff) for _ in range(order)]
        prec = r.bits(4) + 1
        if prec == 16:
            raise ValueError("FLAC: invalid LPC precision escape")
        shift = r.sbits(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [r.sbits(prec) for _ in range(order)]
        res = _flac_residual(r, bsz, order)
        s = list(warm)
        for i in range(order, bsz):
            pred = sum(c * s[i - 1 - j] for j, c in enumerate(coefs)) >> shift
            s.append(pred + res[i - order])
        vals = np.array(s, dtype=np.int64)
    else:
        raise ValueError(f"FLAC: reserved subframe type {t}")
    if wasted:
        vals = vals << wasted
    return vals


_FLAC_BLOCK_SIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                     8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                     13: 8192, 14: 16384, 15: 32768}


def _decode_flac(content: bytes):
    """Native FLAC decode -> (sample_rate, mono float64 signal).

    Implements the xiph FLAC format (RFC 9639): STREAMINFO metadata,
    frame headers (UTF-8 coded ordinals, tabled/explicit block sizes,
    CRC fields consumed, not verified), CONSTANT/VERBATIM/FIXED/LPC
    subframes with partitioned rice residuals (escape partitions
    included), wasted-bits, and left/right/mid-side stereo
    decorrelation. Multi-channel mixes to mono by mean, matching the
    WAV path. Lossless: decoded samples are bit-exact, so round-trips
    against synth_flac verify sample equality, not a tolerance.
    """
    import numpy as np

    if content[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    rate = channels = bps = None
    total = 0
    while True:
        if pos + 4 > len(content):
            raise ValueError("FLAC: truncated metadata")
        hdr = content[pos]
        length = int.from_bytes(content[pos + 1:pos + 4], "big")
        body = content[pos + 4:pos + 4 + length]
        if hdr & 0x7F == 0:  # STREAMINFO
            if len(body) < 18:
                raise ValueError("FLAC: short STREAMINFO")
            b = int.from_bytes(body[10:18], "big")
            rate = b >> 44
            channels = ((b >> 41) & 0x7) + 1
            bps = ((b >> 36) & 0x1F) + 1
            total = b & ((1 << 36) - 1)
        pos += 4 + length
        if hdr & 0x80:
            break
    if not rate:
        raise ValueError("FLAC: missing or zero-rate STREAMINFO")

    chans = [[] for _ in range(channels)]
    while pos + 4 <= len(content):
        r = _FlacBitReader(content, bit_pos=pos * 8)
        if r.bits(14) != 0x3FFE:
            raise ValueError("FLAC: lost frame sync")
        r.bits(1)  # reserved
        r.bits(1)  # blocking strategy
        bs_code = r.bits(4)
        sr_code = r.bits(4)
        ch_asgn = r.bits(4)
        r.bits(3)  # sample size code (STREAMINFO's bps governs here)
        r.bits(1)  # reserved
        first = r.bits(8)  # UTF-8 coded frame/sample ordinal
        n_cont, probe = 0, first
        while probe & 0x80 and probe & 0x40 and n_cont < 6:
            n_cont += 1
            probe = (probe << 1) & 0xFF
        if first & 0x80:
            for _ in range(n_cont):
                r.bits(8)
        if bs_code == 0:
            raise ValueError("FLAC: reserved block size code")
        elif bs_code == 6:
            bsz = r.bits(8) + 1
        elif bs_code == 7:
            bsz = r.bits(16) + 1
        else:
            bsz = _FLAC_BLOCK_SIZES[bs_code]
        if sr_code == 12:
            r.bits(8)
        elif sr_code in (13, 14):
            r.bits(16)
        elif sr_code == 15:
            raise ValueError("FLAC: invalid sample rate code")
        r.bits(8)  # CRC-8
        if ch_asgn <= 7:
            if ch_asgn + 1 != channels:
                raise ValueError("FLAC: frame/stream channel mismatch")
            sub = [_flac_subframe(r, bsz, bps) for _ in range(channels)]
            frame_ch = sub
        elif ch_asgn in (8, 9, 10):
            if channels != 2:
                raise ValueError("FLAC: stereo decorrelation on non-stereo")
            a = _flac_subframe(r, bsz, bps + (1 if ch_asgn in (9,) else 0))
            b2 = _flac_subframe(r, bsz, bps + (1 if ch_asgn in (8, 10) else 0))
            if ch_asgn == 8:  # left/side
                frame_ch = [a, a - b2]
            elif ch_asgn == 9:  # side/right
                frame_ch = [a + b2, b2]
            else:  # mid/side
                side = b2
                left = a + ((side + (side & 1)) >> 1)
                frame_ch = [left, left - side]
        else:
            raise ValueError(f"FLAC: reserved channel assignment {ch_asgn}")
        r.align_byte()
        r.bits(16)  # CRC-16
        pos = r.pos >> 3
        for c in range(channels):
            chans[c].append(frame_ch[c])

    if not chans[0]:
        raise ValueError("FLAC: no audio frames")
    sig = np.stack(
        [np.concatenate(c).astype(np.float64) for c in chans]
    ).mean(axis=0)
    if total:
        sig = sig[:total]
    return rate, sig


def _mfcc_from_signal(sig, rate: int, n_mfcc: int) -> tuple[int, list[float]]:
    """Shared MFCC tail for every audio container: power spectrum
    (numpy rfft) -> 26-band triangular mel filterbank (HTK scale) ->
    log -> orthonormal DCT-II, first n_mfcc coefficients.
    Whole-signal (single-frame) analysis — framing/hop windows are a
    parameterization, not a dependency. Returns (duration_ms, mfcc)."""
    import numpy as np

    sig = np.asarray(sig, dtype=np.float64)
    duration_ms = int(round(len(sig) / rate * 1000))
    if len(sig) == 0:
        return 0, [0.0] * n_mfcc
    spec = np.abs(np.fft.rfft(sig)) ** 2
    n_mels = max(26, n_mfcc + 1)
    fb = _mel_filterbank(n_mels, len(spec), rate)
    log_mel = np.log10(fb @ spec + 1.0)
    k = np.arange(n_mels)
    basis = np.cos(np.pi * np.outer(np.arange(n_mfcc), 2 * k + 1) / (2 * n_mels))
    scale = np.full(n_mfcc, np.sqrt(2.0 / n_mels))
    scale[0] = np.sqrt(1.0 / n_mels)
    mfcc = scale * (basis @ log_mel)
    return duration_ms, [float(v) for v in mfcc]


from functools import lru_cache


@lru_cache(maxsize=1)
def _g711_tables():
    """(mulaw, alaw) int16 decode LUTs — ITU-T G.711 expansion.
    Cached: _decode_wav_g711 runs once per asset in the mapInPandas
    hot path and must not rebuild constant tables per row."""
    import numpy as np

    u = np.arange(256, dtype=np.int64) ^ 0xFF  # mu-law stores inverted
    sign = np.where(u & 0x80, -1, 1)
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mulaw = sign * ((((mant << 3) + 0x84) << exp) - 0x84)

    a = np.arange(256, dtype=np.int64) ^ 0x55
    asign = np.where(a & 0x80, 1, -1)  # A-law: SET sign bit = positive
    aexp = (a >> 4) & 7
    amant = a & 0x0F
    mag = np.where(aexp > 0,
                   ((amant << 4) + 0x108) << (np.maximum(aexp, 1) - 1),
                   (amant << 4) + 8)
    alaw = asign * mag
    return mulaw.astype(np.int16), alaw.astype(np.int16)


def _decode_wav_g711(content: bytes):
    """RIFF walk for G.711 mu-law (format 7) / A-law (format 6) WAV —
    telephony corpora; stdlib ``wave`` only opens PCM. Returns
    (rate, signal float64 mono) after LUT expansion."""
    import struct

    import numpy as np

    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(content):
        tag = content[pos:pos + 4]
        size, = struct.unpack_from("<I", content, pos + 4)
        body = pos + 8
        if tag == b"fmt " and size >= 16:
            fmt = struct.unpack_from("<HHIIHH", content, body)
        elif tag == b"data":
            data = content[body:body + size]
        pos = body + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAV: missing fmt or data chunk")
    audio_format, nch, rate, _br, _ba, bits = fmt
    if audio_format not in (6, 7):
        raise NotImplementedError(
            f"WAV format {audio_format} unsupported on the G.711 path")
    if rate <= 0 or nch < 1:
        raise ValueError(f"WAV: invalid fmt (rate={rate}, channels={nch})")
    mulaw, alaw = _g711_tables()
    lut = mulaw if audio_format == 7 else alaw
    sig = lut[np.frombuffer(data, dtype=np.uint8)].astype("float64")
    if nch > 1:
        sig = sig[: len(sig) - len(sig) % nch].reshape(-1, nch).mean(axis=1)
    return rate, sig


def _decode_audio(content: bytes, n_mfcc: int) -> tuple[int, int, list[float]]:
    """REAL audio decode: 16-bit PCM WAV (stdlib ``wave``), G.711
    mu-law/A-law WAV (LUT expansion), and native FLAC (_decode_flac —
    rice-coded residuals, constant/verbatim/fixed/LPC subframes,
    stereo decorrelation), then the shared true MFCC tail
    (_mfcc_from_signal). Other codecs (MP3/AAC/OGG)
    -> NotImplementedError."""
    import io
    import struct
    import wave

    import numpy as np

    content = bytes(content or b"")
    if content[:4] == b"fLaC":
        rate, sig = _decode_flac(content)
        duration_ms, mfcc = _mfcc_from_signal(sig, rate, n_mfcc)
        return rate, duration_ms, mfcc
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            "only WAV PCM/G.711 and FLAC decode without an audio "
            "library; pass deterministic_fake=True for plumbing tests"
        )
    # peek the fmt tag by WALKING chunk headers (a raw byte search
    # could hit 'fmt ' inside LIST/INFO text or PCM sample data and
    # misroute a decodable file): G.711 takes the manual RIFF path
    # (stdlib wave rejects non-PCM with a generic Error)
    peek = 12
    while peek + 8 <= len(content):
        tag = content[peek:peek + 4]
        size, = struct.unpack_from("<I", content, peek + 4)
        if tag == b"fmt ":
            if size >= 2 and peek + 10 <= len(content):
                afmt, = struct.unpack_from("<H", content, peek + 8)
                if afmt in (6, 7):
                    rate, sig = _decode_wav_g711(content)
                    duration_ms, mfcc = _mfcc_from_signal(
                        sig, rate, n_mfcc)
                    return rate, duration_ms, mfcc
            break
        peek += 8 + size + (size & 1)
    try:
        with wave.open(io.BytesIO(content)) as w:
            rate, nch, sw, nframes = (
                w.getframerate(), w.getnchannels(), w.getsampwidth(), w.getnframes()
            )
            if sw != 2:
                raise NotImplementedError(f"WAV sample width {sw} unsupported (16-bit only)")
            pcm = w.readframes(nframes)
    except NotImplementedError:
        raise
    except RuntimeError as e:
        # wave's Chunk helper raises bare RuntimeError on truncated
        # streams — translate so on_error='null'/'skip' can treat it
        # as the corrupt-asset it is instead of crashing the job
        raise ValueError(f"WAV: corrupt/truncated stream ({e})") from e
    if rate <= 0:
        raise ValueError(f"WAV: invalid sample rate {rate}")
    sig = np.frombuffer(pcm, dtype="<i2").astype("float64")
    if nch > 1:
        sig = sig.reshape(-1, nch).mean(axis=1)
    duration_ms, mfcc = _mfcc_from_signal(sig, rate, n_mfcc)
    return rate, duration_ms, mfcc


def _crc8_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _FlacBitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def put(self, n: int, v: int) -> None:
        v &= (1 << n) - 1 if n else 0
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def align(self) -> None:
        while len(self.bits) % 8:
            self.bits.append(0)

    def to_bytes(self) -> bytes:
        assert len(self.bits) % 8 == 0
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i:i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def synth_flac(rate: int = 8000, freq: float = 440.0, ms: int = 250,
               channels: int = 1, block_size: int = 1024,
               stereo_mode: str = "independent",
               subframe: str = "fixed2", samples=None) -> bytes:
    """Minimal REAL FLAC encoder for tests (RFC 9639 subset the
    decoder round-trips bit-exactly): 16-bit sine (or caller-provided
    ``samples``), explicit 16-bit block sizes, one subframe strategy —
    'fixed2' (order-2 fixed predictor + rice residual, escape
    partitions when residuals are wide), 'lpc2' (the same predictor
    expressed as an order-2 LPC subframe), 'constant' where a block is
    flat, or 'verbatim'. ``stereo_mode`` for channels=2:
    independent / left_side / right_side / mid_side. Real CRC-8/CRC-16
    frame checksums."""
    import math

    import numpy as np

    if samples is None:
        n = int(rate * ms / 1000)
        base = np.array(
            [int(20000 * math.sin(2 * math.pi * freq * i / rate))
             for i in range(n)], dtype=np.int64)
        if channels == 2:
            second = np.array(
                [int(15000 * math.sin(2 * math.pi * (freq * 1.5) * i / rate))
                 for i in range(n)], dtype=np.int64)
            sig = np.stack([base, second], axis=1)
        else:
            sig = base.reshape(-1, 1)
    else:
        sig = np.asarray(samples, dtype=np.int64)
        if sig.ndim == 1:
            sig = sig.reshape(-1, 1)
        channels = sig.shape[1]
    n = sig.shape[0]
    bps = 16

    def put_rice(w: "_FlacBitWriter", res, order_used: int) -> None:
        # method 0 (4-bit params), partition order 0
        w.put(2, 0)
        w.put(4, 0)
        u = (res.astype(np.int64) << 1) ^ (res.astype(np.int64) >> 63)  # zigzag
        umax = int(u.max()) if len(u) else 0
        param = max(0, umax.bit_length() - 3)
        if param > 14:  # escape partition: fixed-width verbatim residuals
            w.put(4, 15)
            width = max(int(np.abs(res).max()).bit_length() + 1, 1)
            w.put(5, width)
            for v in res:
                w.put(width, int(v))
            return
        w.put(4, param)
        for uv in u:
            uv = int(uv)
            q = uv >> param
            for _ in range(q):
                w.put(1, 0)
            w.put(1, 1)
            if param:
                w.put(param, uv & ((1 << param) - 1))

    def put_subframe(w: "_FlacBitWriter", ch, sbps: int) -> None:
        w.put(1, 0)
        if np.all(ch == ch[0]):
            w.put(6, 0)  # CONSTANT
            w.put(1, 0)
            w.put(sbps, int(ch[0]))
            return
        if subframe == "verbatim":
            w.put(6, 1)
            w.put(1, 0)
            for v in ch:
                w.put(sbps, int(v))
            return
        order = 2 if len(ch) > 2 else 0
        res = (ch[2:] - 2 * ch[1:-1] + ch[:-2]) if order == 2 else ch
        if subframe == "lpc2" and order == 2:
            w.put(6, 32 + order - 1)  # LPC, order 2
            w.put(1, 0)
            for v in ch[:order]:
                w.put(sbps, int(v))
            w.put(4, 4)   # precision-1 -> 5-bit coefficients
            w.put(5, 0)   # shift 0
            w.put(5, 2 & 0x1F)   # c1 = 2
            w.put(5, -1 & 0x1F)  # c2 = -1
            put_rice(w, res, order)
            return
        w.put(6, 8 + order)  # FIXED
        w.put(1, 0)
        for v in ch[:order]:
            w.put(sbps, int(v))
        put_rice(w, res, order)

    # STREAMINFO
    info = _FlacBitWriter()
    info.put(16, block_size)
    info.put(16, block_size)
    info.put(24, 0)
    info.put(24, 0)
    info.put(20, rate)
    info.put(3, channels - 1)
    info.put(5, bps - 1)
    info.put(36, n)
    out = bytearray(b"fLaC")
    out += bytes([0x80, 0, 0, 34])
    out += info.to_bytes() + b"\x00" * 16  # md5 unset (all zero)

    for fi, start in enumerate(range(0, n, block_size)):
        blk = sig[start:start + block_size]
        bsz = blk.shape[0]
        w = _FlacBitWriter()
        w.put(14, 0x3FFE)
        w.put(1, 0)
        w.put(1, 0)  # fixed blocking
        w.put(4, 7)  # explicit 16-bit block size
        w.put(4, 0)  # sample rate from STREAMINFO
        if channels == 2 and stereo_mode != "independent":
            ch_asgn = {"left_side": 8, "right_side": 9, "mid_side": 10}[
                stereo_mode]
        else:
            ch_asgn = channels - 1
        w.put(4, ch_asgn)
        w.put(3, 4)  # 16 bps
        w.put(1, 0)
        w.put(8, fi & 0x7F)  # UTF-8 ordinal (single byte: < 128 frames)
        w.put(16, bsz - 1)
        hdr = w.to_bytes()
        w.put(8, _crc8_flac(hdr))
        if ch_asgn <= 7:
            for c in range(channels):
                put_subframe(w, blk[:, c], bps)
        elif ch_asgn == 8:  # left/side
            put_subframe(w, blk[:, 0], bps)
            put_subframe(w, blk[:, 0] - blk[:, 1], bps + 1)
        elif ch_asgn == 9:  # side/right
            put_subframe(w, blk[:, 0] - blk[:, 1], bps + 1)
            put_subframe(w, blk[:, 1], bps)
        else:  # mid/side
            put_subframe(w, (blk[:, 0] + blk[:, 1]) >> 1, bps)
            put_subframe(w, blk[:, 0] - blk[:, 1], bps + 1)
        w.align()
        frame = w.to_bytes()
        w.put(16, _crc16_flac(frame))
        out += w.to_bytes()
    return bytes(out)


def synth_bmp(width: int, height: int, pixel) -> bytes:
    """Tiny 24bpp BMP writer for tests: pixel(x, y) -> (r, g, b)."""
    import struct

    stride = ((width * 3 + 3) // 4) * 4
    px = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pixel(x, y)
            row += bytes((b, g, r))
        row += bytes(stride - len(row))
        px += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(px), 0, 0, 0, 0)
    return bytes(header + dib + px)


def synth_png(width: int, height: int, pixel, interlace: bool = False,
              palette=None, depth: int = 8) -> bytes:
    """Tiny PNG writer for tests. Default: 8-bit RGB (colortype 2);
    ``pixel`` is a callable (x, y) -> (r, g, b) or an (h, w, 3) uint8
    numpy array. ``interlace=True`` writes an Adam7 stream (seven
    filtered sub-images in pass order). ``palette`` (an (n, 3) uint8
    array) switches to colortype 3: ``pixel`` then yields palette
    indexes and ``depth`` may be 1/2/4/8 (MSB-first bit packing).
    ``depth=16`` without a palette writes 16-bit RGB with each sample
    v replicated to (v<<8)|v, so the high-byte reduction round-trips.
    """
    import struct
    import zlib

    import numpy as np

    if palette is not None:
        pal = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
        if callable(pixel):
            img = np.array([[pixel(x, y) for x in range(width)]
                            for y in range(height)], dtype=np.uint8)
        else:
            img = np.asarray(pixel, dtype=np.uint8).reshape(height, width)
        ctype = 3
    else:
        if callable(pixel):
            img = np.empty((height, width, 3), dtype=np.uint8)
            for y in range(height):
                for x in range(width):
                    img[y, x] = pixel(x, y)
        else:
            img = np.asarray(pixel, dtype=np.uint8).reshape(height, width, 3)
        ctype = 2

    def pack_rows(sub) -> bytes:
        """Filtered scanlines (filter byte 0) for one (sub-)image."""
        ph = sub.shape[0]
        if ctype == 3:
            pw = sub.shape[1]
            if depth == 8:
                body = sub.reshape(ph, pw)
            else:
                per = 8 // depth
                pad = (-pw) % per
                padded = np.pad(sub, ((0, 0), (0, pad)))
                # MSB-first: expand each index to its depth bits
                shifts = np.arange(depth - 1, -1, -1, dtype=np.uint8)
                bits = (padded[:, :, None] >> shifts) & 1
                body = np.packbits(bits.reshape(ph, -1), axis=1)
        elif depth == 16:
            pw = sub.shape[1]
            wide = sub.astype(">u2") * 257  # (v<<8)|v
            body = wide.reshape(ph, pw * 3).view(np.uint8).reshape(ph, -1)
        else:
            pw = sub.shape[1]
            body = sub.reshape(ph, pw * 3)
        rows = np.concatenate(
            [np.zeros((ph, 1), dtype=np.uint8), body], axis=1)
        return rows.tobytes()

    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            parts.append(pack_rows(sub))
        raw = b"".join(parts)
    else:
        raw = pack_rows(img)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, depth, ctype, 0, 0,
                       1 if interlace else 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", pal.tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def synth_wav(rate: int = 16000, freq: float = 440.0, ms: int = 250) -> bytes:
    """Tiny 16-bit mono PCM sine-wave WAV for tests."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(rate * ms / 1000)
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack("<h", int(20000 * math.sin(2 * math.pi * freq * i / rate)))
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def synth_wav_g711(rate: int = 8000, freq: float = 440.0, ms: int = 250,
                   law: str = "mulaw") -> bytes:
    """G.711 mu-law/A-law WAV sine for tests: encodes by nearest-LUT
    search against the same expansion tables the decoder uses, so the
    companding round-trip is exact by construction."""
    import struct

    import numpy as np

    mulaw, alaw = _g711_tables()
    lut = mulaw if law == "mulaw" else alaw
    n = rate * ms // 1000
    sig = (20000 * np.sin(2 * np.pi * freq * np.arange(n) / rate))
    codes = np.abs(sig[:, None] - lut[None, :].astype("float64")).argmin(
        axis=1).astype(np.uint8)
    payload = codes.tobytes()
    fmt_tag = 7 if law == "mulaw" else 6
    fmt = struct.pack("<HHIIHH", fmt_tag, 1, rate, rate, 1, 8)
    return (b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload)


def _fake_audio_features(content: Optional[bytes], n_mfcc: int):
    import hashlib

    h = hashlib.sha256(b"audio:" + (content or b"")).digest()
    rate = 8000 * (1 + h[0] % 6)  # 8/16/24/32/40/48 kHz
    mfcc = [((h[i % 32] / 255.0) * 40 - 20) for i in range(n_mfcc)]
    return rate, mfcc


def audio_features(
    assets: DataFrame,
    deterministic_fake: bool = False,
    n_mfcc: int = 13,
    on_error: str = "fail",
) -> DataFrame:
    """Decode + feature-extract audio assets (true MFCC: mel
    filterbank + log + DCT-II, see _decode_audio) via Arrow-batched
    mapInPandas — same plumbing contract as image_features:
    column-pruned input, partition-parallel, same on_error
    fail|null|skip policy. WAV PCM AND native FLAC decode for REAL
    (stdlib wave / _decode_flac + numpy; sample rate and duration come
    from the container, not metadata); lossy codecs (MP3/AAC/OGG)
    need librosa/torchaudio and raise unless
    deterministic_fake=True."""
    if on_error not in ("fail", "null", "skip"):
        raise ValueError(f"on_error must be fail|null|skip, got {on_error!r}")
    pruned = _spread_narrow(assets.select(
        "asset_id", "content", F.col("meta.duration_ms").alias("duration_ms")
    ))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"asset_id": [], "sample_rate": [], "duration_ms": [], "mfcc": []}
            for aid, content, dur in zip(
                pdf["asset_id"], pdf["content"], pdf["duration_ms"]
            ):
                try:
                    if deterministic_fake:
                        rate, mfcc = _fake_audio_features(content, n_mfcc)
                    else:
                        rate, dur, mfcc = _decode_audio(content, n_mfcc)
                except DECODE_ERRORS:
                    if on_error == "fail":
                        raise
                    if on_error == "skip":
                        continue
                    rate = dur = mfcc = None
                out["asset_id"].append(aid)
                out["sample_rate"].append(rate)
                out["duration_ms"].append(dur)
                out["mfcc"].append(mfcc)
            if out["asset_id"]:  # see image_features: no empty yields
                yield pd.DataFrame(out)

    return pruned.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def _sample_gif_frames(content: bytes, every_ms: int):
    """REAL animated-GIF frame sampling: walk composited frames with
    their GCE delays, emit the frame on display at each multiple of
    ``every_ms`` (timestamp grid sampling — the same contract a video
    container would use). Frames are returned as PNG bytes."""
    frames = []
    t = 0
    for canvas, delay_ms in _gif_frames(content):
        frames.append((t, canvas))
        t += max(delay_ms, 10)  # browsers clamp 0-delay to ~10 ms
    duration = t
    out = []
    i = 0
    ts = 0
    while ts < max(duration, 1):
        # frame on display at ts = last frame with start <= ts
        while i + 1 < len(frames) and frames[i + 1][0] <= ts:
            i += 1
        h, w, _ = frames[i][1].shape
        out.append((ts, synth_png(w, h, frames[i][1])))
        ts += every_ms
        if len(frames) == 1:
            break  # static image: one frame regardless of grid
    return out


def _avi_video_frames(content: bytes):
    """Walk a RIFF/AVI container and return (frame_ms, [frame, ...])
    for the video stream. Two stream kinds decode without external
    codecs:

    - MJPEG ('MJPG'/'JPEG' handler): frames are the '##dc'/'##db'
      chunks — complete baseline-or-progressive JPEGs our own decoder
      handles; emitted as-is (no transcode).
    - uncompressed DIB / rawvideo ('DIB ', 'RGB ', or a zero handler
      with strf biCompression == BI_RGB): each '##db'/'##dc' chunk is
      a raw bottom-up BGR(A) DIB; emitted wrapped as a BMP by
      prepending a 14-byte BITMAPFILEHEADER to the stream's own
      BITMAPINFOHEADER (strf) + pixel bytes — a header prepend, not a
      pixel transcode, which the existing BMP kernel decodes.

    'avih' gives the frame period; a vids stream with any other
    handler raises NotImplementedError (H.264-class codecs are out of
    scope for a stdlib-only decoder)."""
    import struct

    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    frame_us = 0
    handler = None
    strf = None
    in_vids = False
    frames: list[bytes] = []

    def walk(off: int, end: int) -> None:
        nonlocal frame_us, handler, strf, in_vids
        while off + 8 <= end:
            fourcc = content[off:off + 4]
            size, = struct.unpack_from("<I", content, off + 4)
            data_off = off + 8
            data_end = min(data_off + size, end)
            if fourcc == b"LIST":
                walk(data_off + 4, data_end)  # skip the list subtype
            elif fourcc == b"avih" and size >= 4:
                frame_us, = struct.unpack_from("<I", content, data_off)
            elif fourcc == b"strh" and size >= 8:
                in_vids = content[data_off:data_off + 4] == b"vids"
                if in_vids:
                    handler = content[data_off + 4:data_off + 8]
            elif fourcc == b"strf" and in_vids and size >= 40:
                strf = content[data_off:data_off + size]
            elif fourcc[2:4] in (b"dc", b"db") and fourcc[:2].isdigit():
                frames.append(content[data_off:data_end])
            off = data_off + size + (size & 1)  # chunks pad to even

    walk(12, len(content))
    if not frames:
        raise ValueError("AVI container has no video frame chunks")
    frame_ms = max(int(round((frame_us or 40000) / 1000.0)), 1)
    hu = (handler or b"").upper()
    is_raw = handler is not None and (
        hu in (b"DIB ", b"RGB ") or handler == b"\x00\x00\x00\x00")
    if is_raw:
        if strf is None:
            raise ValueError("rawvideo AVI without a strf format header")
        compression, = struct.unpack_from("<I", strf, 16)
        bpp, = struct.unpack_from("<H", strf, 14)
        if compression != 0 or bpp not in (24, 32):
            raise NotImplementedError(
                f"rawvideo AVI biCompression={compression} bpp={bpp} "
                "unsupported (BI_RGB 24/32 only)")
        bw, bh = struct.unpack_from("<ii", strf, 4)
        stride = ((bw * (bpp // 8) + 3) // 4) * 4
        expected = stride * abs(bh)
        hdr40 = strf[:40]
        wrapped = []
        for fr in frames:
            if len(fr) < expected:
                raise ValueError(
                    f"rawvideo AVI frame truncated: {len(fr)} < {expected}")
            filehdr = struct.pack("<2sIHHI", b"BM", 54 + len(fr), 0, 0, 54)
            wrapped.append(filehdr + hdr40 + fr)
        return frame_ms, wrapped
    if handler is not None and hu not in (b"MJPG", b"JPEG"):
        raise NotImplementedError(
            f"AVI video handler {handler!r} unsupported (MJPEG/rawvideo "
            "only)")
    # fall back to verifying the frames really are JPEG when no strh
    if handler is None and frames[0][:2] != b"\xff\xd8":
        raise NotImplementedError("AVI frames are not MJPEG")
    return frame_ms, frames


def _sample_avi_frames(content: bytes, every_ms: int):
    """AVI frame sampling on the every_ms timestamp grid — same
    contract as _sample_gif_frames. MJPEG streams emit the stream's
    own JPEGs; rawvideo (DIB) streams emit BMP-wrapped frames — in
    both cases no pixel transcode (at corpus scale frame extraction
    must not re-encode; downstream image_features decodes the emitted
    container directly)."""
    frame_ms, frames = _avi_video_frames(content)
    duration = frame_ms * len(frames)
    out = []
    ts = 0
    while ts < max(duration, 1):
        idx = min(ts // frame_ms, len(frames) - 1)
        out.append((ts, frames[idx]))
        ts += every_ms
        if len(frames) == 1:
            break
    return out


def synth_avi_mjpeg(width: int, height: int, frames, frame_ms: int = 40,
                    progressive: bool = False) -> bytes:
    """Minimal MJPEG-in-AVI writer for tests: RIFF('AVI ') with an
    hdrl list (avih + one vids strl whose handler is 'MJPG') and a
    movi list of '00dc' JPEG chunks (each frame encoded with
    synth_jpeg). ``frames`` is a list of (h, w, 3) uint8 arrays."""
    import struct

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(subtype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", subtype + data)

    jpegs = [synth_jpeg(width, height, f, progressive=progressive)
             for f in frames]
    avih = struct.pack(
        "<14I", frame_ms * 1000, 0, 0, 0, len(jpegs), 0, 1, 0,
        width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, frame_ms, 1000,
                          0, len(jpegs), 0, 0, 0, 0))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_avi_raw(width: int, height: int, frames,
                  frame_ms: int = 40) -> bytes:
    """Minimal uncompressed (rawvideo/DIB) AVI writer for tests:
    RIFF('AVI ') with an hdrl list (avih + one vids strl with handler
    'DIB ' and a BI_RGB 24bpp strf) and a movi list of '00db' chunks,
    each a bottom-up 4-byte-aligned BGR DIB. ``frames`` is a list of
    (h, w, 3) uint8 RGB arrays."""
    import struct

    import numpy as np

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) & 1 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(subtype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", subtype + data)

    stride = ((width * 3 + 3) // 4) * 4
    dibs = []
    for f in frames:
        img = np.asarray(f, dtype=np.uint8).reshape(height, width, 3)
        bgr = img[::-1, :, ::-1]  # bottom-up rows, BGR channel order
        rows = np.zeros((height, stride), dtype=np.uint8)
        rows[:, : width * 3] = bgr.reshape(height, width * 3)
        dibs.append(rows.tobytes())
    avih = struct.pack(
        "<14I", frame_ms * 1000, 0, 0, 0, len(dibs), 0, 1, 0,
        width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB "
            + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, frame_ms, 1000,
                          0, len(dibs), 0, 0, 0, 0))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                       0, stride * height, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", d) for d in dibs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _accelerated_video_decoder():
    """Import-try PyAV (ffmpeg bindings) for the accelerated video
    path — the exact twin of _accelerated_image_decoder: H.264/VP8/
    VP9-class entropy decode is out of stdlib scope, so MP4/WebM frame
    EXTRACTION needs a native codec. When ``av`` is installed on the
    executors (it is NOT in this build environment — the builtin
    GIF/MJPEG/rawvideo samplers stay the tested default),
    ``sample_frames(decoder='auto'|'accel')`` routes any container
    ffmpeg can open; sampled frames are emitted as lossless BMP wraps
    of the decoded RGB planes so the downstream image kernels decode
    them exactly. Returns the ``av`` module or None."""
    try:
        import av  # noqa: F401
        return av
    except ImportError:
        return None


def _sample_frames_accel(raw: bytes, every_ms: int, av_mod):
    """Decode via PyAV and sample on the every_ms grid -> [(ts, bmp)].
    Frames become BMPs (54-byte header + bottom-up BGR rows) — a
    deterministic, compression-free wrap the builtin BMP kernel reads.
    """
    import io
    import struct

    import numpy as np

    out = []
    try:
        with av_mod.open(io.BytesIO(raw)) as container:
            stream = next((s for s in container.streams
                           if s.type == "video"), None)
            if stream is None:
                raise ValueError("accelerated decode: no video stream")
            next_ts = 0
            for frame in container.decode(stream):
                ts_ms = int((frame.pts or 0) * float(stream.time_base)
                            * 1000)
                if ts_ms < next_ts:
                    continue
                arr = frame.to_ndarray(format="rgb24")
                h, w = arr.shape[:2]
                stride = ((w * 3 + 3) // 4) * 4
                rows = np.zeros((h, stride), dtype=np.uint8)
                rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
                px = rows.tobytes()
                hdr = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
                dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                                  len(px), 0, 0, 0, 0)
                out.append((ts_ms, hdr + dib + px))
                next_ts = ts_ms + every_ms
    except ValueError:
        raise
    except Exception as e:
        # PyAV raises FFmpegError subclasses that are NOT all
        # ValueError/OSError-derived — normalize so the caller's
        # DECODE_ERRORS policy (and 'auto' fallback) applies, the same
        # wrap _decode_image_accel does for Pillow
        raise ValueError(f"accelerated decode failed: {e}") from e
    if not out:
        raise ValueError("accelerated decode: no frames decoded")
    return out


def sample_frames(
    assets: DataFrame,
    every_ms: int = 1000,
    deterministic_fake: bool = False,
    decoder: str = "builtin",
) -> DataFrame:
    """Sample video frames every `every_ms` — expands one asset row into
    N frame rows (mapInPandas so output cardinality is free-form).

    REAL for animated GIF (frames composited per the GIF
    disposal/delay model, emitted as PNG bytes), for MJPEG-in-AVI
    (RIFF 'movi' chunk walk; sampled frames are the stream's own JPEG
    bytes — no transcode — which image_features decodes directly),
    and for uncompressed DIB/rawvideo AVI (raw frames emitted as BMP
    via a header prepend). All sample on the every_ms timestamp grid.
    Other containers (mp4/webm/... — H.264-class codecs) raise unless
    deterministic_fake=True (seeded stand-in frames for ANY bytes —
    the fake path never touches real decoders, so corrupt content
    cannot break a plumbing test).

    ``decoder``: 'builtin' (default — the tested stdlib samplers),
    'auto' (route decided ONCE driver-side: PyAV for every asset when
    the driver can import av, builtin otherwise — the 100 TB knob for
    H.264-class corpora; see _accelerated_video_decoder), or 'accel'
    (PyAV required; raises RuntimeError if absent).

    The 'auto' route is resolved on the DRIVER and captured in the
    task closure, never re-probed per executor: with heterogeneous av
    installs, per-executor probing would emit BMP frames from some
    tasks and PNG/JPEG from others depending on scheduling (ADVICE
    r6). Once the driver picks the accel route, an executor without
    av RAISES (same guard as 'accel') instead of silently switching
    formats; if the driver lacks av, every executor uses builtin.
    """
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    if decoder not in ("builtin", "auto", "accel"):
        raise ValueError(f"decoder must be builtin|auto|accel, got {decoder!r}")
    if decoder == "accel" and _accelerated_video_decoder() is None:
        raise RuntimeError(
            "decoder='accel' requires PyAV (av) on driver and executors")
    # driver-side route decision, shipped in the closure (see docstring)
    use_accel = decoder == "accel" or (
        decoder == "auto" and _accelerated_video_decoder() is not None)
    pruned = _spread_narrow(assets.select("asset_id", "content", F.col("meta.duration_ms").alias("duration_ms")))

    def run(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        av_mod = _accelerated_video_decoder() if use_accel else None
        if use_accel and av_mod is None:
            # executor-side guard: driver decided the accel route but
            # this executor lacks av — silent builtin fallback would
            # mix output formats nondeterministically across the
            # cluster
            raise RuntimeError(
                f"decoder={decoder!r} resolved to PyAV on the driver "
                "but av is not importable on an executor; install av "
                "cluster-wide or pass decoder='builtin'")
        for pdf in batches:
            rows = {"asset_id": [], "frame_idx": [], "ts_ms": [], "frame": []}
            for aid, content, dur in zip(
                pdf["asset_id"], pdf["content"], pdf["duration_ms"]
            ):
                raw = bytes(content or b"")
                if av_mod is not None and not deterministic_fake:
                    try:
                        for i, (ts, bmp) in enumerate(
                            _sample_frames_accel(raw, every_ms, av_mod)
                        ):
                            rows["asset_id"].append(aid)
                            rows["frame_idx"].append(i)
                            rows["ts_ms"].append(ts)
                            rows["frame"].append(bmp)
                        continue
                    except DECODE_ERRORS:
                        if decoder == "accel":
                            raise
                        # 'auto': fall through to the builtin samplers
                if not deterministic_fake and raw[:6] in (b"GIF87a", b"GIF89a"):
                    for i, (ts, png) in enumerate(
                        _sample_gif_frames(raw, every_ms)
                    ):
                        rows["asset_id"].append(aid)
                        rows["frame_idx"].append(i)
                        rows["ts_ms"].append(ts)
                        rows["frame"].append(png)
                    continue
                if (not deterministic_fake and raw[:4] == b"RIFF"
                        and raw[8:12] == b"AVI "):
                    for i, (ts, jpg) in enumerate(
                        _sample_avi_frames(raw, every_ms)
                    ):
                        rows["asset_id"].append(aid)
                        rows["frame_idx"].append(i)
                        rows["ts_ms"].append(ts)
                        rows["frame"].append(jpg)
                    continue
                if not deterministic_fake:
                    raise NotImplementedError(
                        "only animated GIF, MJPEG-AVI and rawvideo-AVI "
                        "sample without a media library; pass "
                        "deterministic_fake=True"
                    )
                n = max(int((dur or 0) // every_ms), 0)
                for i in range(n):
                    seed = hashlib.sha256(
                        raw + i.to_bytes(4, "little")
                    ).digest()
                    rows["asset_id"].append(aid)
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["frame"].append(seed[:16])
            yield pd.DataFrame(rows)

    return pruned.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


def make_fake_assets(spark, n: int = 8, modality: str = "image") -> DataFrame:
    """Deterministic asset table for tests (content = seeded bytes)."""
    import hashlib

    rows = []
    for i in range(n):
        content = hashlib.sha256(f"asset-{i}".encode()).digest() * 4
        rows.append(
            (
                i,
                modality,
                bytearray(content),
                f"s3://bucket/assets/{i}",
                (640, 480, 5000 + 1000 * i, "fake"),
            )
        )
    return local_frame(spark, rows, ASSET_SCHEMA)


PROBE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("container", StringType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("sample_rate", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("codec", StringType(), True),
    ]
)


def _probe_mp4(content: bytes) -> dict:
    """ISO-BMFF box walk: mvhd timescale/duration, tkhd dimensions,
    stsd first-entry fourcc — container metadata WITHOUT any codec
    decode (the one useful thing doable on MP4 stdlib-only)."""
    import struct

    out = {"container": "mp4", "codec": None, "width": None,
           "height": None, "duration_ms": None}
    containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

    def walk(off: int, end: int) -> None:
        while off + 8 <= end:
            size, = struct.unpack_from(">I", content, off)
            btype = content[off + 4:off + 8]
            if size == 1:  # 64-bit largesize
                if off + 16 > end:
                    return
                size, = struct.unpack_from(">Q", content, off + 8)
                body = off + 16
            else:
                body = off + 8
            if size < 8:
                return
            box_end = min(off + size, end)
            if btype in containers:
                walk(body, box_end)
            elif btype == b"mvhd" and body + 4 <= box_end:
                ver = content[body]
                if ver == 1 and body + 28 <= box_end:
                    ts, = struct.unpack_from(">I", content, body + 20)
                    dur, = struct.unpack_from(">Q", content, body + 24)
                else:
                    ts, = struct.unpack_from(">I", content, body + 12)
                    dur, = struct.unpack_from(">I", content, body + 16)
                if ts:
                    out["duration_ms"] = int(round(dur * 1000.0 / ts))
            elif btype == b"tkhd" and box_end - body >= 84:
                # width/height are 16.16 fixed point at the box tail
                w, h = struct.unpack_from(">II", content, box_end - 8)
                if w and h:
                    out["width"] = w >> 16
                    out["height"] = h >> 16
            elif btype == b"stsd" and body + 16 <= box_end:
                out["codec"] = content[body + 12:body + 16].decode(
                    "ascii", "replace")
            off += size

    walk(0, len(content))
    return out


def _probe_gif_duration(content: bytes) -> int:
    """Sum GCE delays by WALKING block structure only (sub-block
    length skips) — no LZW decode."""
    pos = 13
    if content[10] & 0x80:  # global color table
        pos += 3 * (2 << (content[10] & 7))
    total = 0
    frames = 0
    while pos < len(content):
        b = content[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = content[pos + 1]
            pos += 2
            if label == 0xF9 and pos + 5 <= len(content):
                delay_cs = int.from_bytes(content[pos + 2:pos + 4], "little")
                total += max(delay_cs * 10, 10)
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            frames += 1
            pos += 10
            if content[pos - 1] & 0x80:  # local color table
                pos += 3 * (2 << (content[pos - 1] & 7))
            pos += 1  # LZW min code size
            while pos < len(content) and content[pos] != 0:
                pos += 1 + content[pos]
            pos += 1
        else:
            raise ValueError(f"GIF: unknown block 0x{b:02x}")
    return total if frames > 1 else 0


def probe_bytes(content: bytes) -> dict:
    """Identify a media container and extract its header metadata —
    no pixel/sample decode (see probe_media)."""
    import io
    import struct
    import wave

    c = bytes(content or b"")
    out = {"container": "unknown", "width": None, "height": None,
           "duration_ms": None, "sample_rate": None, "channels": None,
           "codec": None}
    if c[:8] == b"\x89PNG\r\n\x1a\n" and len(c) >= 29:
        w, h = struct.unpack_from(">II", c, 16)
        out.update(container="png", width=w, height=h,
                   codec="interlaced" if c[28] else "sequential")
    elif c[:2] == b"BM" and len(c) >= 54:
        w, h = struct.unpack_from("<ii", c, 18)
        out.update(container="bmp", width=w, height=abs(h), codec="rgb")
    elif c[:2] == b"\xff\xd8":
        out["container"] = "jpeg"
        pos = 2
        while pos + 4 <= len(c):
            if c[pos] != 0xFF:
                pos += 1
                continue
            marker = c[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seglen, = struct.unpack_from(">H", c, pos + 2)
            if marker in (0xC0, 0xC1, 0xC2):
                h, w = struct.unpack_from(">HH", c, pos + 5)
                out.update(width=w, height=h,
                           codec={0xC0: "baseline",
                                  0xC1: "extended-sequential",
                                  0xC2: "progressive"}[marker])
                break
            if marker in (0xDA, 0xD9):
                break
            pos += 2 + seglen
    elif c[:6] in (b"GIF87a", b"GIF89a") and len(c) >= 13:
        w, h = struct.unpack_from("<HH", c, 6)
        out.update(container="gif", width=w, height=h, codec="lzw",
                   duration_ms=_probe_gif_duration(c) or None)
    elif c[:4] == b"RIFF" and c[8:12] == b"WAVE":
        try:
            with wave.open(io.BytesIO(c)) as wv:
                rate = wv.getframerate()
                out.update(
                    container="wav", codec="pcm",
                    sample_rate=rate, channels=wv.getnchannels(),
                    duration_ms=int(round(
                        wv.getnframes() * 1000.0 / rate)) if rate > 0
                    else None,
                )
        except RuntimeError as e:  # wave's Chunk on truncated streams
            raise ValueError(f"WAV: corrupt/truncated stream ({e})") from e
    elif c[:4] == b"fLaC" and len(c) >= 22:
        b = int.from_bytes(c[18:26], "big")
        rate = b >> 44
        out.update(
            container="flac", codec="flac", sample_rate=rate,
            channels=((b >> 41) & 0x7) + 1,
            duration_ms=int(round((b & ((1 << 36) - 1)) * 1000.0 / rate))
            if rate else None,
        )
    elif c[:4] == b"RIFF" and c[8:12] == b"AVI ":
        out["container"] = "avi"
        frame_us = nframes = w = h = 0
        handler = None

        def walk(off, end):
            nonlocal frame_us, nframes, w, h, handler
            while off + 8 <= end:
                four = c[off:off + 4]
                size, = struct.unpack_from("<I", c, off + 4)
                body, bend = off + 8, min(off + 8 + size, end)
                if four == b"LIST":
                    walk(body + 4, bend)
                elif four == b"avih" and size >= 40:
                    frame_us, _, _, _, nframes, _, _, _, w, h = \
                        struct.unpack_from("<10I", c, body)
                elif four == b"strh" and size >= 8:
                    if c[body:body + 4] == b"vids":
                        handler = c[body + 4:body + 8]
                off = body + size + (size & 1)

        walk(12, len(c))
        out.update(
            width=w or None, height=h or None,
            codec=(handler or b"").decode("ascii", "replace") or None,
            duration_ms=int(round(nframes * frame_us / 1000.0))
            if frame_us and nframes else None,
        )
    elif len(c) >= 12 and c[4:8] == b"ftyp":
        out.update(_probe_mp4(c))
    elif c[:4] == b"\x1a\x45\xdf\xa3":  # EBML (Matroska/WebM)
        out.update(_probe_webm(c))
    elif c[:2] in (b"II", b"MM") and len(c) >= 8 and (
            struct.unpack_from("<H" if c[:2] == b"II" else ">H", c, 2)[0]
            == 42):
        out.update(_probe_tiff(c))
    elif c[:4] == b"OggS":
        out.update(_probe_ogg(c))
    elif c[:3] == b"ID3" or (len(c) >= 4 and c[0] == 0xFF
                             and (c[1] & 0xE0) == 0xE0):
        probed = _probe_mp3(c)
        if probed is not None:
            out.update(probed)
    return out


def _tiff_ifd_entries(content: bytes, bo: str):
    """First-IFD entries as {tag: (type, count, value_or_offset_field)}
    plus resolved small values; shared by probe and decode."""
    import struct

    ifd_off, = struct.unpack_from(bo + "I", content, 4)
    n_entries, = struct.unpack_from(bo + "H", content, ifd_off)
    out = {}
    for i in range(min(n_entries, 256)):
        ent = ifd_off + 2 + i * 12
        if ent + 12 > len(content):
            break
        tag, typ, cnt = struct.unpack_from(bo + "HHI", content, ent)
        out[tag] = (typ, cnt, ent + 8)
    return out


def _tiff_values(content: bytes, bo: str, entry) -> list[int]:
    """Resolve a SHORT(3)/LONG(4) entry's value list (inline when it
    fits in the 4-byte field, else at the stored offset)."""
    import struct

    typ, cnt, vfield = entry
    size = 2 if typ == 3 else 4
    fmt = "H" if typ == 3 else "I"
    if cnt * size <= 4:
        off = vfield
    else:
        off, = struct.unpack_from(bo + "I", content, vfield)
    return list(struct.unpack_from(bo + str(cnt) + fmt, content, off))


def _decode_tiff(content: bytes):
    """Strip TIFF decode, Compression=1 (uncompressed) and =5 (LZW,
    per-strip _tiff_lzw_decode streams, with Predictor=2 horizontal
    differencing undone by a per-row per-channel cumulative sum mod
    256): 8-bit gray or RGB -> (width, height, luminance). Other
    compressions/depths raise NotImplementedError (honest guard); the
    probe still reports their metadata."""
    import numpy as np

    bo = "<" if content[:2] == b"II" else ">"
    ent = _tiff_ifd_entries(content, bo)
    need = (256, 257, 273, 279)
    if any(t not in ent for t in need):
        raise ValueError("TIFF: missing required IFD tags")
    width = _tiff_values(content, bo, ent[256])[0]
    height = _tiff_values(content, bo, ent[257])[0]
    _check_dims(width, height, "TIFF")
    comp = _tiff_values(content, bo, ent[259])[0] if 259 in ent else 1
    if comp not in (1, 5):
        raise NotImplementedError(f"TIFF compression={comp} unsupported")
    spp = _tiff_values(content, bo, ent[277])[0] if 277 in ent else 1
    bits = _tiff_values(content, bo, ent[258]) if 258 in ent else [8]
    if any(b != 8 for b in bits) or spp not in (1, 3):
        raise NotImplementedError(
            f"TIFF bits={bits} samples={spp} unsupported")
    # honest guards: planar (per-plane strips) and WhiteIsZero would
    # decode to silently WRONG luminance through the chunky path
    planar = _tiff_values(content, bo, ent[284])[0] if 284 in ent else 1
    if planar != 1:
        raise NotImplementedError(
            f"TIFF PlanarConfiguration={planar} unsupported (chunky only)")
    photo = _tiff_values(content, bo, ent[262])[0] if 262 in ent else 1
    if photo not in (1, 2):
        raise NotImplementedError(
            f"TIFF PhotometricInterpretation={photo} unsupported")
    pred = _tiff_values(content, bo, ent[317])[0] if 317 in ent else 1
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF Predictor={pred} unsupported")
    if pred == 2 and comp == 1:
        # legal per spec but pathological; the differencing undo below
        # only runs on the LZW path where encoders actually use it
        raise NotImplementedError(
            "TIFF Predictor=2 with Compression=1 unsupported")
    offs = _tiff_values(content, bo, ent[273])
    counts = _tiff_values(content, bo, ent[279])
    rps = _tiff_values(content, bo, ent[278])[0] if 278 in ent else height
    if comp == 1:
        raw = b"".join(content[o:o + n] for o, n in zip(offs, counts))
    else:
        # each strip is an independent LZW stream sized by its rows;
        # predictor rows never cross strip boundaries, so undo per
        # strip right after its decode
        parts = []
        row_bytes = width * spp
        for i, (o, n) in enumerate(zip(offs, counts)):
            rows = min(rps, height - i * rps)
            if rows <= 0:
                break
            dec = _tiff_lzw_decode(content[o:o + n], rows * row_bytes)
            if len(dec) < rows * row_bytes:
                raise ValueError("TIFF: LZW strip truncated")
            # the decoder can OVERSHOOT by up to one table entry (the
            # final code is appended whole); real writers pad the last
            # strip to rows_per_strip and expect readers to truncate —
            # without this, pred=2 fails its reshape and pred=1 shifts
            # every later strip's pixels silently
            dec = dec[:rows * row_bytes]
            if pred == 2:
                arr = np.frombuffer(dec, np.uint8).reshape(
                    rows, width, spp)
                dec = np.cumsum(
                    arr.astype(np.uint32), axis=1
                ).astype(np.uint8).tobytes()
            parts.append(dec)
        raw = b"".join(parts)
    expected = width * height * spp
    if len(raw) < expected:
        raise ValueError("TIFF: strip data truncated")
    px = np.frombuffer(raw, np.uint8, expected).reshape(-1, spp)
    gray = _luminance(px, spp)
    return width, height, gray


def _probe_tiff(content: bytes):
    """TIFF header + first-IFD walk (shared _tiff_ifd_entries /
    _tiff_values helpers): ImageWidth (256), ImageLength (257),
    Compression (259) — scan/dataset corpora carry TIFF heavily; no
    pixel decode."""
    import struct

    bo = "<" if content[:2] == b"II" else ">"
    out = {"container": "tiff", "codec": None, "width": None,
           "height": None}
    try:
        ifd_off, = struct.unpack_from(bo + "I", content, 4)
        if ifd_off + 2 > len(content):
            return out
        ent = _tiff_ifd_entries(content, bo)
        if 256 in ent:
            out["width"] = _tiff_values(content, bo, ent[256])[0]
        if 257 in ent:
            out["height"] = _tiff_values(content, bo, ent[257])[0]
        comp = (_tiff_values(content, bo, ent[259])[0]
                if 259 in ent else None)
    except (struct.error, IndexError):
        return out
    out["codec"] = {1: "uncompressed", 5: "lzw", 6: "jpeg", 7: "jpeg",
                    8: "deflate", 32773: "packbits"}.get(comp)
    return out


def synth_tiff(width: int, height: int, little_endian: bool = True,
               pixel=None, rows_per_strip: int | None = None,
               compression: int = 1, predictor: int = 1) -> bytes:
    """TIFF writer for tests: header + one IFD; with ``pixel`` (an
    (h, w, 3) RGB or (h, w) gray uint8 array) it also writes real
    strips split every ``rows_per_strip`` rows (default: one strip),
    which the decoder reads back exactly. compression=5 LZW-encodes
    each strip independently (_tiff_lzw_encode); predictor=2 applies
    horizontal differencing (tag 317) before the LZW pass — the
    standard pairing real encoders emit. Without pixels it is
    header-only (probe tests)."""
    import struct

    import numpy as np

    if compression not in (1, 5):
        raise ValueError(f"compression must be 1 or 5, got {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"predictor must be 1 or 2, got {predictor}")
    if predictor == 2 and compression != 5:
        raise ValueError("predictor=2 requires compression=5")
    bo = "<" if little_endian else ">"
    if pixel is None:
        entries = [
            (256, 3, [width]), (257, 3, [height]),
            (258, 3, [8]), (259, 3, [compression]),
        ]
        strips = []
    else:
        arr = np.asarray(pixel, dtype=np.uint8)
        spp = 1 if arr.ndim == 2 else arr.shape[2]
        rps = rows_per_strip or height
        strips = []
        for r in range(0, height, rps):
            chunk = arr[r:r + rps]
            if predictor == 2:
                d = chunk.reshape(chunk.shape[0], width, spp).astype(int)
                d[:, 1:, :] = (d[:, 1:, :] - d[:, :-1, :]) % 256
                chunk = d.astype(np.uint8)
            raw = chunk.tobytes()
            strips.append(
                _tiff_lzw_encode(raw) if compression == 5 else raw)
        entries = [
            (256, 3, [width]), (257, 3, [height]),
            (258, 3, [8] * spp), (259, 3, [compression]),
            (262, 3, [1 if spp == 1 else 2]),
            (273, 4, [0] * len(strips)),   # offsets patched below
            (277, 3, [spp]),
            (278, 3, [rps]),
            (279, 4, [len(s) for s in strips]),
        ]
        if predictor == 2:
            entries.append((317, 3, [predictor]))

    def ifd_size(ents):
        extra = 0
        for _t, typ, vals in ents:
            sz = (2 if typ == 3 else 4) * len(vals)
            if sz > 4:
                extra += sz
        return 2 + 12 * len(ents) + 4 + extra

    hdr_len = 8
    data_start = hdr_len + ifd_size(entries)
    # patch strip offsets now that layout is known
    if strips:
        offs, acc = [], data_start
        for s in strips:
            offs.append(acc)
            acc += len(s)
        entries = [(t, ty, offs if t == 273 else v)
                   for t, ty, v in entries]

    body = struct.pack(bo + "H", len(entries))
    extra_blob = b""
    extra_off = hdr_len + 2 + 12 * len(entries) + 4
    for tag, typ, vals in entries:
        fmt = "H" if typ == 3 else "I"
        size = (2 if typ == 3 else 4) * len(vals)
        body += struct.pack(bo + "HHI", tag, typ, len(vals))
        if size <= 4:
            packed = struct.pack(bo + str(len(vals)) + fmt, *vals)
            body += packed + b"\x00" * (4 - size)
        else:
            body += struct.pack(bo + "I", extra_off + len(extra_blob))
            extra_blob += struct.pack(bo + str(len(vals)) + fmt, *vals)
    body += struct.pack(bo + "I", 0)  # next-IFD = none
    hdr = (b"II" if little_endian else b"MM") + struct.pack(bo + "H", 42) \
        + struct.pack(bo + "I", 8)
    return hdr + body + extra_blob + b"".join(strips)


def _probe_ogg(content: bytes):
    """Ogg container: first page's packet identifies the codec
    (OpusHead / vorbis / theora); channels + rates from the id header;
    duration from the LAST page's granule position (Opus granules run
    at 48 kHz, Vorbis at the stream sample rate) via a bounded tail
    scan — the same trick ffprobe uses for quick Ogg durations."""
    import struct

    out = {"container": "ogg", "codec": None, "sample_rate": None,
           "channels": None, "duration_ms": None}
    # first page: header 27 bytes + seg table; packet follows
    if len(content) < 28:
        return out
    nseg = content[26]
    body = 27 + nseg
    pkt = content[body:body + 64]
    gran_rate = None
    pre_skip = 0
    if pkt[:8] == b"OpusHead":
        out["codec"] = "opus"
        if len(pkt) >= 16:  # unpack reads bytes 12..15
            out["channels"] = pkt[9]
            # granule positions INCLUDE the encoder pre-skip samples
            # (RFC 7845 §4.2); ffprobe subtracts it, so must we
            pre_skip, = struct.unpack_from("<H", pkt, 10)
            out["sample_rate"], = struct.unpack_from("<I", pkt, 12)
        gran_rate = 48000  # Opus granules are always 48 kHz
    elif pkt[:7] == b"\x01vorbis":
        out["codec"] = "vorbis"
        if len(pkt) >= 16:
            out["channels"] = pkt[11]
            out["sample_rate"], = struct.unpack_from("<I", pkt, 12)
        gran_rate = out["sample_rate"]
    elif pkt[:7] == b"\x80theora":
        out["codec"] = "theora"
    if gran_rate:
        tail = content[-65536:]
        pos = tail.rfind(b"OggS")
        if pos >= 0 and pos + 14 <= len(tail):
            granule, = struct.unpack_from("<q", tail, pos + 6)
            if granule > 0:
                samples = max(granule - pre_skip, 0)
                out["duration_ms"] = int(round(samples * 1000 / gran_rate))
    return out


def synth_ogg_opus(duration_ms: int, channels: int = 2,
                   input_rate: int = 48000) -> bytes:
    """Two-page Ogg/Opus skeleton for probe tests: an OpusHead id page
    and a final page whose granule position encodes ``duration_ms``
    (48 kHz granules). No audio packets — the probe reads headers."""
    import struct

    def page(granule: int, seq: int, payload: bytes,
             header_type: int) -> bytes:
        seg = bytes([len(payload)]) if payload else b"\x00"
        nseg = 1
        hdr = (b"OggS" + b"\x00" + bytes([header_type])
               + struct.pack("<q", granule)
               + struct.pack("<I", 1)  # serial
               + struct.pack("<I", seq)
               + struct.pack("<I", 0)  # crc (unchecked by the probe)
               + bytes([nseg]) + seg)
        return hdr + payload
    pre_skip = 312
    opus_head = (b"OpusHead" + bytes([1, channels]) +
                 struct.pack("<H", pre_skip) + struct.pack("<I", input_rate)
                 + struct.pack("<h", 0) + b"\x00")
    # granule positions include pre-skip (RFC 7845 §4.2): the playable
    # duration is (granule - pre_skip) / 48k, so encode it that way —
    # the probe subtracts pre_skip back out (ADVICE r6)
    granule = (duration_ms * 48000) // 1000 + pre_skip
    return (page(0, 0, opus_head, 0x02)       # BOS
            + page(granule, 1, b"", 0x04))    # EOS


# MPEG audio bitrate tables (kbps) by header index (index 0 = free,
# 15 = invalid), keyed by (is_mpeg1, layer). MPEG-2 and 2.5 share
# tables; Layers II and III share the MPEG-2 table.
_MP3_BITRATES = {
    (True, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320,
                352, 384, 416, 448, 0],
    (True, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                256, 320, 384, 0],
    (True, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                224, 256, 320, 0],
    (False, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176,
                 192, 224, 256, 0],
    (False, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                 144, 160, 0],
}
_MP3_BITRATES[(False, 3)] = _MP3_BITRATES[(False, 2)]
_MP3_BITRATES_V1L3 = _MP3_BITRATES[(True, 3)]  # synth_mp3 uses this
_MP3_RATES_V1 = [44100, 48000, 32000, 0]


def _mp3_frame_len(is_mpeg1: bool, layer: int, kbps: int, sr: int,
                   padding: int) -> int:
    """Frame byte length per ISO 11172-3 / 13818-3: Layer I counts in
    4-byte slots; Layer III halves the samples-per-frame for MPEG-2."""
    if layer == 1:
        return ((12 * kbps * 1000) // sr + padding) * 4
    spf = 1152 if (is_mpeg1 or layer == 2) else 576
    return (spf // 8 * kbps * 1000) // sr + padding


def _probe_mp3(content: bytes):
    """MPEG audio (MP3) header probe: skip an ID3v2 tag, find the
    first frame sync, parse version/layer/bitrate/samplerate/mode,
    and estimate duration from the CBR byte budget (the quick path
    ffprobe takes) — no audio decode. Returns a probe dict or None
    when no valid frame header is found (caller keeps 'unknown')."""
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        tag = ((content[6] & 0x7F) << 21) | ((content[7] & 0x7F) << 14) \
            | ((content[8] & 0x7F) << 7) | (content[9] & 0x7F)
        pos = 10 + tag
    end = min(len(content) - 3, pos + 65536)  # bounded sync scan
    while pos < end:
        if content[pos] == 0xFF and (content[pos + 1] & 0xE0) == 0xE0:
            b1, b2, b3 = content[pos + 1], content[pos + 2], content[pos + 3]
            ver_bits = (b1 >> 3) & 3     # 0=2.5, 2=MPEG2, 3=MPEG1
            layer_bits = (b1 >> 1) & 3   # 1=III, 2=II, 3=I
            br_idx = b2 >> 4
            sr_idx = (b2 >> 2) & 3
            mode = (b3 >> 6) & 3
            if ver_bits == 1 or layer_bits == 0 or br_idx in (0, 15) \
                    or sr_idx == 3:
                pos += 1
                continue
            version = {0: "2.5", 2: "2", 3: "1"}[ver_bits]
            layer = {1: 3, 2: 2, 3: 1}[layer_bits]
            sr = _MP3_RATES_V1[sr_idx]
            if ver_bits == 2:
                sr //= 2
            elif ver_bits == 0:
                sr //= 4
            kbps = _MP3_BITRATES[(ver_bits == 3, layer)][br_idx]
            padding = (b2 >> 1) & 1
            flen = _mp3_frame_len(ver_bits == 3, layer, kbps, sr, padding)
            # false-sync guard (a 0xFF byte in arbitrary data can
            # parse as a header): when a whole frame fits, require the
            # NEXT frame to start with sync too — applied to EVERY
            # version/layer combination via the full bitrate tables
            nxt = pos + flen
            if nxt + 1 < len(content) and not (
                content[nxt] == 0xFF
                and (content[nxt + 1] & 0xE0) == 0xE0
            ):
                pos += 1
                continue
            audio_bytes = len(content) - pos
            duration = int(round(audio_bytes * 8 / kbps))
            return {
                "container": "mp3",
                "codec": f"mpeg{version}-layer{layer}",
                "sample_rate": sr,
                "channels": 1 if mode == 3 else 2,
                "duration_ms": duration,
            }
        pos += 1
    return None


def synth_mp3(n_frames: int, bitrate_kbps: int = 128,
              sample_rate: int = 44100, mono: bool = False,
              id3_bytes: int = 0) -> bytes:
    """Minimal MPEG-1 Layer III stream for probe tests: valid frame
    headers (no CRC) with zeroed payloads, optionally preceded by an
    ID3v2 tag of ``id3_bytes`` body bytes. Not decodable audio — the
    probe only reads headers."""
    br_idx = _MP3_BITRATES_V1L3.index(bitrate_kbps)
    sr_idx = _MP3_RATES_V1.index(sample_rate)
    frame_len = (144 * bitrate_kbps * 1000) // sample_rate
    hdr = bytes([
        0xFF, 0xFB,  # sync + MPEG1 + Layer III + no CRC
        (br_idx << 4) | (sr_idx << 2),
        (0x03 if mono else 0x00) << 6,
    ])
    out = b""
    if id3_bytes:
        sz = id3_bytes
        out += (b"ID3\x04\x00\x00"
                + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                         (sz >> 7) & 0x7F, sz & 0x7F])
                + b"\x00" * sz)
    return out + (hdr + b"\x00" * (frame_len - 4)) * n_frames


def probe_media(assets: DataFrame, on_error: str = "null") -> DataFrame:
    """ffprobe-lite: identify every asset's container and extract
    header metadata (dimensions, duration, sample rate, channels,
    codec) WITHOUT decoding pixels or samples — the triage pass a
    100 TB multimodal corpus runs before spending decode cycles
    (route by codec, drop corrupt/unsupported assets, budget work by
    duration). Supports PNG/BMP/JPEG (incl. progressive) / GIF
    (animated duration by block walk, no LZW decode) / TIFF (IFD
    walk) / WAV / FLAC / MP3 (frame header + ID3v2 skip, next-frame
    sync confirm) / Ogg (Opus/Vorbis/Theora id headers, granule
    duration) / AVI (handler fourcc) / MP4 (ISO-BMFF mvhd/tkhd/stsd)
    / WebM (EBML walk) — container metadata is fully parseable even
    where frame/sample decode is not. Unrecognized bytes probe as
    container='unknown' rather
    than failing — a probe that throws on weird files defeats its
    purpose (on_error='fail' restores strictness).

    Same Arrow-batched mapInPandas plumbing as image_features:
    column-pruned, partition-parallel, header-bytes-bound per asset.
    """
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be fail|null, got {on_error!r}")
    # header-only triage: no spread — shuffling full asset bytes to
    # parallelize KB-per-asset header parsing is a net loss
    pruned = assets.select("asset_id", "content")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in (
                "asset_id", "container", "width", "height", "duration_ms",
                "sample_rate", "channels", "codec")}
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                try:
                    info = probe_bytes(content)
                except DECODE_ERRORS:
                    if on_error == "fail":
                        raise
                    info = {"container": "unknown", "width": None,
                            "height": None, "duration_ms": None,
                            "sample_rate": None, "channels": None,
                            "codec": None}
                rows["asset_id"].append(aid)
                for k, v in info.items():
                    rows[k].append(v)
            if rows["asset_id"]:
                yield pd.DataFrame(rows)

    return pruned.mapInPandas(run, PROBE_SCHEMA)


def synth_mp4(width: int = 640, height: int = 360,
              duration_ms: int = 5000, codec: bytes = b"avc1") -> bytes:
    """Minimal ISO-BMFF writer for probe tests: ftyp +
    moov(mvhd v0 + trak(tkhd + mdia(minf(stbl(stsd))))), no mdat —
    structurally valid for container-metadata probing."""
    import struct

    def box(fourcc: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + fourcc + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    mvhd = box(b"mvhd", struct.pack(
        ">I", 0) + struct.pack(">IIII", 0, 0, 1000, duration_ms)
        + b"\x00" * 80)
    tkhd = box(b"tkhd", struct.pack(">I", 7)
               + struct.pack(">IIII", 0, 0, 1, 0)
               + struct.pack(">I", duration_ms) + b"\x00" * 52
               + struct.pack(">II", width << 16, height << 16))
    entry = struct.pack(">I", 16) + codec + b"\x00" * 8
    stsd = box(b"stsd", struct.pack(">II", 0, 1) + entry)
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov


def _ebml_vint(data: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """EBML variable-length integer at ``pos`` -> (value, next_pos).
    Element IDs keep their length-marker bit (matroska convention);
    sizes clear it."""
    if pos >= len(data):
        raise ValueError("EBML: truncated vint")
    first = data[pos]
    if first == 0:
        raise ValueError("EBML: invalid vint")
    length = 8 - first.bit_length() + 1
    if pos + length > len(data):
        raise ValueError("EBML: truncated vint body")
    v = int.from_bytes(data[pos:pos + length], "big")
    if not keep_marker:
        v &= (1 << (7 * length)) - 1
    return v, pos + length


def _probe_webm(content: bytes) -> dict:
    """Matroska/WebM EBML walk: Segment > Info(TimestampScale,
    Duration) and Tracks > TrackEntry(CodecID, Video(PixelWidth,
    PixelHeight)) — container metadata without any codec decode."""
    import struct

    out = {"container": "webm", "codec": None, "width": None,
           "height": None, "duration_ms": None}
    scale = 1_000_000  # default TimestampScale: 1 ms in ns
    duration_ticks = None
    containers = {0x18538067, 0x1549A966, 0x1654AE6B, 0xAE, 0xE0}

    def walk(pos: int, end: int) -> None:
        nonlocal scale, duration_ticks
        while pos < end:
            eid, pos = _ebml_vint(content, pos, keep_marker=True)
            size, pos = _ebml_vint(content, pos, keep_marker=False)
            body_end = min(pos + size, end)
            body = content[pos:body_end]
            if eid in containers:
                walk(pos, body_end)
            elif eid == 0x2AD7B1:  # TimestampScale (ns per tick)
                scale = int.from_bytes(body, "big") or scale
            elif eid == 0x4489:  # Duration (float ticks)
                if len(body) == 4:
                    duration_ticks = struct.unpack(">f", body)[0]
                elif len(body) == 8:
                    duration_ticks = struct.unpack(">d", body)[0]
            elif eid == 0x86:  # CodecID
                out["codec"] = body.decode("ascii", "replace").rstrip("\x00")
            elif eid == 0xB0:  # PixelWidth
                out["width"] = int.from_bytes(body, "big")
            elif eid == 0xBA:  # PixelHeight
                out["height"] = int.from_bytes(body, "big")
            pos = body_end

    walk(0, len(content))
    if duration_ticks is not None:
        out["duration_ms"] = int(round(duration_ticks * scale / 1e6))
    return out


def synth_webm(width: int = 640, height: int = 360,
               duration_ms: int = 4000, codec: str = "V_VP8") -> bytes:
    """Minimal Matroska/WebM writer for probe tests: EBML header +
    Segment(Info(TimestampScale, Duration), Tracks(TrackEntry(CodecID,
    Video(PixelWidth, PixelHeight)))), no clusters."""
    import struct

    def vint_size(n: int) -> bytes:
        # 1-byte size for < 127, else 8-byte form
        if n < 0x7F:
            return bytes([0x80 | n])
        return bytes([0x01]) + n.to_bytes(7, "big")

    def elem(eid: int, payload: bytes) -> bytes:
        eid_bytes = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
        return eid_bytes + vint_size(len(payload)) + payload

    def uint(v: int) -> bytes:
        return v.to_bytes(max((v.bit_length() + 7) // 8, 1), "big")

    ebml = elem(0x1A45DFA3, elem(0x4282, b"webm"))  # DocType
    info = elem(0x1549A966,
                elem(0x2AD7B1, uint(1_000_000))
                + elem(0x4489, struct.pack(">d", float(duration_ms))))
    video = elem(0xE0, elem(0xB0, uint(width)) + elem(0xBA, uint(height)))
    track = elem(0xAE, elem(0x86, codec.encode()) + video)
    tracks = elem(0x1654AE6B, track)
    segment = elem(0x18538067, info + tracks)
    return ebml + segment
