"""Pure-Python/numpy still-image codecs — real decode with no native libs.

The reference decodes page images with PIL only to rasterize them for
Textract OCR (``notebooks/preproc/preproc.py:70-173``,
``image_utils.py:59-168``). This engine has no OCR step and no entry
point reaches this module today; it is kept as the zero-dependency image
layer an OCR front-end would sit on, covering every format a from-scratch
decoder can handle from public specs using only the stdlib (``zlib``,
``struct``) and numpy:

- **PNG** (W3C PNG spec / RFC 2083): depth 8 (sequential AND Adam7
  interlaced), depth 16 (MSB downsample), sub-byte depths 1/2/4 for
  gray/palette (bilevel document scans); color
  types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA); all five
  scanline filters; ``PLTE``/``tRNS`` honored; alpha composited over
  white (the reference thumbnails onto a white page, preproc.py:120);
  ``eXIf`` chunk parsed for EXIF orientation (TIFF tag 0x0112) so the
  D4 rotation path runs on real containers.
- **BMP** (BITMAPINFOHEADER): uncompressed BI_RGB 24/32-bit, bottom-up or
  top-down, 4-byte row padding.
- **PPM/PGM** binary (``P6``/``P5``, maxval ≤ 255, comment-tolerant).
- **TIFF** (TIFF 6.0, incl. **multi-frame** via the IFD chain — the D3
  page-split container): 8-bit strips, gray/RGB/palette photometrics,
  Compression none/LZW(+Predictor 2)/PackBits, Orientation tag.
- **GIF** (87a/89a): global/local color tables, GIF-variant LZW,
  interlace, transparency, multi-frame canvas compositing.

Matching encoders (:func:`encode_png`, :func:`encode_bmp`,
:func:`encode_ppm`, :func:`encode_tiff`, :func:`encode_gif`) exist so
tests roundtrip real containers end-to-end. JPEG lives in the sibling
``functions/jpeg.py`` (T.81 baseline and progressive Huffman decode +
quality-scaled encoder). WebP, ICO, AVIF/HEIF, SVG, MP4 and PDF are
sniffed (format and, where the header carries them, dimensions) but have
no pixel decoder here. The EXIF-rotation and resize/letterbox geometry of
the reference (``image_utils.py:59-168``) closes the module.

Decode cost note (100 TB): filters 0/1/2 are fully vectorized (copy,
per-lane cumsum mod 256, vectorized up-add); filters 3/4 (average/Paeth)
are inherently sequential per scanline byte and fall back to a Python
loop. On a real cluster you'd still prefer Pillow-SIMD where installable
— this is the zero-dependency floor, not the ceiling.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# --------------------------------------------------------------------------
# format sniffing
# --------------------------------------------------------------------------

def sniff_format(blob: bytes) -> str | None:
    """Magic-number sniff (the D1 media-type inference rule for real
    containers, image_utils.py:299-366). Returns a lowercase format name
    or None."""
    if blob.startswith(_PNG_SIG):
        return "png"
    if blob.startswith(b"BM"):
        return "bmp"
    if blob[:2] in (b"P5", b"P6") and (len(blob) > 2 and blob[2:3].isspace()):
        return "pgm" if blob[:2] == b"P5" else "ppm"
    if blob.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if blob.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if blob.startswith((b"II*\x00", b"MM\x00*")):
        return "tiff"
    if blob.startswith(b"RIFF") and blob[8:12] == b"WAVE":
        return "wav"
    if blob.startswith(b"RIFF") and blob[8:12] == b"WEBP":
        return "webp"
    if len(blob) >= 12 and blob[4:8] == b"ftyp":
        # ISO-BMFF family: refine by major brand — AVIF/HEIC are image
        # containers carried in the same box structure as video MP4s
        brand = blob[8:12]
        if brand in (b"avif", b"avis"):
            return "avif"
        if brand in (b"heic", b"heix", b"mif1", b"msf1"):
            return "heif"
        return "mp4"
    if blob.startswith(b"%PDF-"):
        return "pdf"
    if blob.startswith(b"\x00\x00\x01\x00") and len(blob) >= 6:
        return "ico"
    head = blob[:256].lstrip()
    if head.startswith(b"<svg") or (head.startswith(b"<?xml")
                                    and b"<svg" in blob[:1024]):
        return "svg"
    return None


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, stride: int, height: int, bpp: int) -> np.ndarray:
    """PNG scanline unfiltering → (height, stride) uint8. ``stride`` is
    the filtered byte width of a scanline (= width*bpp at depth 8;
    ceil(width*depth/8) for sub-byte depths, where filtering operates on
    bytes with bpp=1 per the spec). Filters 0/1/2 vectorized; 3/4
    per-byte (see module docstring)."""
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"PNG IDAT size mismatch: got {len(raw)}, "
            f"want {height * (stride + 1)}")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint16)
    for y in range(height):
        ftype = int(rows[y, 0])
        filt = rows[y, 1:]
        if ftype == 0:
            recon = filt.copy()
        elif ftype == 1:  # Sub: prefix sum per byte lane, mod 256
            lanes = filt.reshape(-1, bpp).astype(np.uint64)
            recon = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8)
            recon = recon.reshape(stride)
        elif ftype == 2:  # Up
            recon = ((filt.astype(np.uint16) + prev) & 0xFF).astype(np.uint8)
        elif ftype in (3, 4):  # Average / Paeth: sequential per byte
            fi = filt.tolist()
            pr = prev.tolist()
            rc = [0] * stride
            for x in range(stride):
                a = rc[x - bpp] if x >= bpp else 0
                b = pr[x]
                if ftype == 3:
                    rc[x] = (fi[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = pr[x - bpp] if x >= bpp else 0
                    rc[x] = (fi[x] + _paeth(a, b, c)) & 0xFF
            recon = np.asarray(rc, dtype=np.uint8)
        else:
            raise ValueError(f"PNG: unknown filter type {ftype}")
        out[y] = recon
        prev = recon.astype(np.uint16)
    return out


#: Adam7 passes: (x_start, y_start, x_step, y_step)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _unfilter_adam7(raw: bytes, width: int, height: int,
                    bpp: int) -> np.ndarray:
    """Adam7 de-interlace: seven independently-filtered sub-images
    scattered back onto the full canvas."""
    out = np.zeros((height, width * bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = -(-(width - x0) // xs) if width > x0 else 0
        ph = -(-(height - y0) // ys) if height > y0 else 0
        if pw == 0 or ph == 0:
            continue
        nbytes = ph * (pw * bpp + 1)
        sub = _unfilter(raw[pos:pos + nbytes], pw * bpp, ph, bpp)
        pos += nbytes
        rows = np.arange(y0, height, ys)[:ph]
        cols = np.arange(x0, width, xs)[:pw]
        for ci, c in enumerate(cols):
            out[rows, c * bpp:(c + 1) * bpp] = \
                sub[:, ci * bpp:(ci + 1) * bpp]
    if pos != len(raw):
        raise ValueError("PNG: interlaced data size mismatch")
    return out


def _parse_exif_orientation(tiff: bytes) -> int | None:
    """Minimal TIFF IFD walk for tag 0x0112 (Orientation) — the payload of
    a PNG ``eXIf`` chunk is a bare TIFF blob (PNG eXIf spec)."""
    try:
        if tiff[:4] == b"II*\x00":
            e = "<"
        elif tiff[:4] == b"MM\x00*":
            e = ">"
        else:
            return None
        (ifd_off,) = struct.unpack_from(e + "I", tiff, 4)
        (n,) = struct.unpack_from(e + "H", tiff, ifd_off)
        for i in range(n):
            tag, typ, _cnt = struct.unpack_from(
                e + "HHI", tiff, ifd_off + 2 + 12 * i)
            if tag == 0x0112 and typ == 3:  # SHORT
                (val,) = struct.unpack_from(
                    e + "H", tiff, ifd_off + 2 + 12 * i + 8)
                return int(val)
    except (struct.error, IndexError):
        return None
    return None


def decode_png(blob: bytes) -> tuple[np.ndarray, int | None]:
    """PNG → ((h, w, 3) uint8 RGB, exif_orientation|None). Alpha is
    composited over white. Raises ValueError for interlaced / non-8-bit /
    malformed input (callers surface it in the ``error`` column)."""
    if not blob.startswith(_PNG_SIG):
        raise ValueError("PNG: bad signature")
    pos = len(_PNG_SIG)
    ihdr = None
    plte = trns = exif_tiff = None
    idat = bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        ctype = blob[pos + 4:pos + 8]
        data = blob[pos + 8:pos + 8 + length]
        if len(data) != length:
            raise ValueError("PNG: truncated chunk")
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"eXIf":
            exif_tiff = bytes(data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG: missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("PNG: unknown compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"PNG: unknown interlace method {interlace}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"PNG: color type {color} not supported")
    if w == 0 or h == 0:
        raise ValueError("PNG: zero dimension")
    if depth not in (8,) and (interlace == 1):
        raise ValueError(f"PNG: interlaced {depth}-bit not supported")
    ch = _PNG_CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    if depth == 8:
        if interlace == 1:
            px = _unfilter_adam7(raw, w, h, ch).reshape(h, w, ch)
        else:
            px = _unfilter(raw, w * ch, h, ch).reshape(h, w, ch)
    elif depth == 16 and color in (0, 2, 4, 6):
        bpp = ch * 2
        rows = _unfilter(raw, w * bpp, h, bpp)
        # most-significant byte is the faithful 16→8 downsample
        px = rows.reshape(h, w, ch, 2)[:, :, :, 0].copy()
    elif depth in (1, 2, 4) and color in (0, 3):
        # sub-byte depths: scanlines are bit-packed MSB-first, padded to
        # whole bytes; filtering operates on those bytes with bpp=1
        stride = -(-(w * depth) // 8)
        rows = _unfilter(raw, stride, h, 1)
        bits = np.unpackbits(rows, axis=1)[:, :w * depth]
        vals = bits.reshape(h, w, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        ix = (vals * weights).sum(axis=2).astype(np.uint8)
        if color == 0:  # gray: scale to full range (255/(2^d-1))
            ix = (ix.astype(np.uint16) * (255 // ((1 << depth) - 1))
                  ).astype(np.uint8)
        px = ix[:, :, None]
    else:
        raise ValueError(
            f"PNG: bit depth {depth} with color type {color} not supported")

    orientation = _parse_exif_orientation(exif_tiff) if exif_tiff else None

    if color == 2:  # RGB
        return px.copy(), orientation
    if color == 0:  # gray
        return np.repeat(px, 3, axis=2), orientation
    if color == 3:  # palette
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        ix = px[:, :, 0]
        if ix.max(initial=0) >= len(plte):
            raise ValueError("PNG: palette index out of range")
        rgb = plte[ix]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[:len(trns)] = trns
            return _over_white(rgb, alpha[ix]), orientation
        return rgb, orientation
    if color == 4:  # gray + alpha
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
        return _over_white(rgb, px[:, :, 1]), orientation
    # color == 6: RGBA
    return _over_white(px[:, :, :3], px[:, :, 3]), orientation


def _over_white(rgb: np.ndarray, alpha: np.ndarray) -> np.ndarray:
    """Composite (h, w, 3) over white with (h, w) alpha — integer exact:
    out = round((rgb*a + 255*(255-a)) / 255)."""
    a = alpha.astype(np.uint32)[..., None]
    num = rgb.astype(np.uint32) * a + 255 * (255 - a)
    return ((num + 127) // 255).astype(np.uint8)


def _filter_row(ftype: int, cur: np.ndarray, prev: np.ndarray,
                bpp: int) -> np.ndarray:
    """Forward PNG filter (encoder side) for one reconstructed scanline."""
    stride = len(cur)
    c32, p32 = cur.astype(np.int32), prev.astype(np.int32)
    left = np.zeros(stride, dtype=np.int32)
    left[bpp:] = c32[:-bpp]
    ul = np.zeros(stride, dtype=np.int32)
    ul[bpp:] = p32[:-bpp]
    if ftype == 0:
        out = c32
    elif ftype == 1:
        out = c32 - left
    elif ftype == 2:
        out = c32 - p32
    elif ftype == 3:
        out = c32 - ((left + p32) >> 1)
    elif ftype == 4:
        pred = np.empty(stride, dtype=np.int32)
        for x in range(stride):
            pred[x] = _paeth(int(left[x]), int(p32[x]), int(ul[x]))
        out = c32 - pred
    else:
        raise ValueError(f"PNG: unknown filter type {ftype}")
    return (out & 0xFF).astype(np.uint8)


def encode_png(arr: np.ndarray, filter_type: int | str = 0,
               orientation: int | None = None,
               interlace: bool = False) -> bytes:
    """(h, w) | (h, w, {1,3,4}) uint8 → PNG bytes. ``filter_type`` is one
    of 0-4 applied to every row, or ``"mixed"`` (cycles 0→4 — exercises
    every decoder path; ignored for interlaced output, which writes
    filter 0 per sub-scanline). ``orientation`` writes an eXIf chunk;
    ``interlace`` emits Adam7 pass order."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 3: 2, 4: 6}.get(ch)
    if color is None:
        raise ValueError(f"encode_png: {ch}-channel input not supported")
    lines = bytearray()
    if interlace:
        for x0, y0, xs, ys in _ADAM7:
            sub = arr[y0::ys, x0::xs]
            if sub.size == 0:
                continue
            sflat = np.ascontiguousarray(sub).reshape(sub.shape[0], -1)
            for y in range(sub.shape[0]):
                lines.append(0)
                lines.extend(sflat[y].tobytes())
    else:
        flat = arr.reshape(h, w * ch)
        prev = np.zeros(w * ch, dtype=np.uint8)
        for y in range(h):
            ft = (y % 5) if filter_type == "mixed" else int(filter_type)
            lines.append(ft)
            lines.extend(_filter_row(ft, flat[y], prev, ch).tobytes())
            prev = flat[y]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    out = bytearray(_PNG_SIG)
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0,
                                      1 if interlace else 0))
    if orientation is not None:
        tiff = (b"II*\x00" + struct.pack("<I", 8)
                + struct.pack("<H", 1)
                + struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
                + struct.pack("<I", 0))
        out += chunk(b"eXIf", tiff)
    out += chunk(b"IDAT", zlib.compress(bytes(lines), 6))
    out += chunk(b"IEND", b"")
    return bytes(out)


# --------------------------------------------------------------------------
# BMP
# --------------------------------------------------------------------------

def decode_bmp(blob: bytes) -> tuple[np.ndarray, int | None]:
    """BMP (BITMAPINFOHEADER, BI_RGB 24/32-bit) → ((h, w, 3) uint8 RGB,
    None). BMP carries no EXIF. Bottom-up (positive height) and top-down
    (negative) both handled; 32-bit alpha is ignored (opaque convention)."""
    if not blob.startswith(b"BM") or len(blob) < 54:
        raise ValueError("BMP: bad header")
    (pix_off,) = struct.unpack_from("<I", blob, 10)
    (hdr_size,) = struct.unpack_from("<I", blob, 14)
    if hdr_size < 40:
        raise ValueError(f"BMP: DIB header size {hdr_size} not supported")
    w, h = struct.unpack_from("<ii", blob, 18)
    (bpp,) = struct.unpack_from("<H", blob, 28)
    (compression,) = struct.unpack_from("<I", blob, 30)
    if compression != 0:
        raise ValueError(f"BMP: compression {compression} not supported "
                         "(BI_RGB only)")
    if bpp not in (24, 32):
        raise ValueError(f"BMP: {bpp}-bit not supported (24/32 only)")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("BMP: bad dimensions")
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    need = pix_off + stride * h
    if len(blob) < need:
        raise ValueError("BMP: truncated pixel data")
    rows = np.frombuffer(blob, dtype=np.uint8, count=stride * h,
                         offset=pix_off).reshape(h, stride)
    px = rows[:, :w * nch].reshape(h, w, nch)
    if not top_down:
        px = px[::-1]
    return px[:, :, 2::-1].copy(), None  # BGR(A) → RGB


def encode_bmp(arr: np.ndarray, top_down: bool = False) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BI_RGB BMP bytes."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError("encode_bmp: RGB input required")
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = arr[:, :, ::-1].reshape(h, w * 3)  # RGB → BGR
    body = rows.tobytes() if top_down else rows[::-1].tobytes()
    dib = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24,
                      0, stride * h, 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return hdr + dib + body


# --------------------------------------------------------------------------
# PPM / PGM (binary)
# --------------------------------------------------------------------------

def decode_ppm(blob: bytes) -> tuple[np.ndarray, int | None]:
    """Binary PPM (P6) / PGM (P5), maxval ≤ 255 → ((h, w, 3) uint8, None).
    Netpbm headers allow ``#`` comments between tokens."""
    if blob[:2] not in (b"P5", b"P6"):
        raise ValueError("PPM: not a binary P5/P6 file")
    ch = 3 if blob[:2] == b"P6" else 1
    pos = 2
    vals = []
    while len(vals) < 3:
        while pos < len(blob) and blob[pos:pos + 1].isspace():
            pos += 1
        if blob[pos:pos + 1] == b"#":
            while pos < len(blob) and blob[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < len(blob) and blob[pos:pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("PPM: malformed header")
        vals.append(int(blob[start:pos]))
    w, h, maxval = vals
    if maxval > 255 or maxval <= 0:
        raise ValueError(f"PPM: maxval {maxval} not supported")
    pos += 1  # exactly one whitespace byte after maxval
    need = w * h * ch
    px = np.frombuffer(blob, dtype=np.uint8, count=need, offset=pos)
    if len(px) < need:
        raise ValueError("PPM: truncated pixel data")
    px = px.reshape(h, w, ch)
    if maxval != 255:  # rescale to full range, round-half-up
        px = (((px.astype(np.uint32) * 255) + maxval // 2)
              // maxval).astype(np.uint8)
    if ch == 1:
        px = np.repeat(px, 3, axis=2)
    return px.copy(), None


def encode_ppm(arr: np.ndarray, comment: str | None = None) -> bytes:
    """(h, w, 3) uint8 RGB → binary PPM (P6)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError("encode_ppm: RGB input required")
    hdr = b"P6\n"
    if comment:
        hdr += b"# " + comment.encode() + b"\n"
    hdr += f"{w} {h}\n255\n".encode()
    return hdr + arr.tobytes()


# --------------------------------------------------------------------------
# dispatch
# --------------------------------------------------------------------------

def _decode_jpeg(blob):
    from .jpeg import decode_jpeg  # sibling module (baseline T.81)
    return decode_jpeg(blob)


_DECODERS = {"png": decode_png, "bmp": decode_bmp,
             "ppm": decode_ppm, "pgm": decode_ppm,
             "tiff": lambda blob: decode_tiff(blob),   # defined below
             "gif": lambda blob: decode_gif(blob),     # defined below
             "jpeg": _decode_jpeg}


#: exception types a truncated/bit-flipped container can surface from the
#: raw parsers — the error-channel contract converts ALL of them to
#: ValueError so one bad blob can never escape the per-record error column
_PARSE_ERRORS = (struct.error, IndexError, KeyError, TypeError,
                 OverflowError, zlib.error, EOFError)


def builtin_decode_fn(blob: bytes) -> tuple[np.ndarray, int | None]:
    """Decode any supported still image to ``(pixels, orientation)``,
    backed entirely by this module and ``jpeg.py``. Error contract: hostile
    input raises ValueError ONLY (fuzz-pinned in tests/test_properties.py);
    the Arrow stage converts that into the per-record ``error`` column."""
    fmt = sniff_format(bytes(blob))
    dec = _DECODERS.get(fmt)
    if dec is None:
        raise ValueError(
            f"builtin_decode_fn: format {fmt or 'unknown'} has no built-in "
            "decoder — supported here: png/bmp/ppm/pgm/tiff/gif/jpeg")
    try:
        return dec(bytes(blob))
    except ValueError:
        raise
    except _PARSE_ERRORS as e:
        raise ValueError(f"{fmt}: malformed container ({e!r})") from e


# --------------------------------------------------------------------------
# TIFF (multi-frame; uncompressed / PackBits / LZW)
# --------------------------------------------------------------------------
#
# The reference's D3 operator walks TIFF frames with PIL `seek(i)`
# (image_utils.py:510-558); a TIFF file is a linked list of IFDs, one per
# frame, so the native walk is the IFD chain. Supported: 8-bit samples,
# PhotometricInterpretation 0/1 (gray, incl. white-is-zero), 2 (RGB),
# 3 (palette via ColorMap), chunky planar config, strip layout,
# Compression 1 (none), 5 (LZW, with horizontal Predictor 2), 32773
# (PackBits), and the Orientation tag (the D4 input). Tiled TIFFs and
# 16-bit samples raise ValueError.

_TIFF_TAG_WIDTH = 256
_TIFF_TAG_LENGTH = 257
_TIFF_TAG_BITS = 258
_TIFF_TAG_COMPRESSION = 259
_TIFF_TAG_PHOTOMETRIC = 262
_TIFF_TAG_STRIP_OFFSETS = 273
_TIFF_TAG_ORIENTATION = 274
_TIFF_TAG_SAMPLES = 277
_TIFF_TAG_ROWS_PER_STRIP = 278
_TIFF_TAG_STRIP_COUNTS = 279
_TIFF_TAG_PLANAR = 284
_TIFF_TAG_PREDICTOR = 317
_TIFF_TAG_COLORMAP = 320

_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 6: 1, 7: 1, 8: 2, 9: 4}


def _tiff_read_ifd(blob: bytes, e: str, off: int) -> tuple[dict, int]:
    """One IFD → ({tag: [values]}, next_ifd_offset)."""
    (n,) = struct.unpack_from(e + "H", blob, off)
    tags: dict[int, list] = {}
    for i in range(n):
        base = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from(e + "HHI", blob, base)
        size = _TIFF_TYPE_SIZE.get(typ)
        if size is None:
            continue
        total = size * cnt
        if total <= 4:
            src = base + 8
        else:
            (src,) = struct.unpack_from(e + "I", blob, base + 8)
        fmt = {1: "B", 2: "b", 3: "H", 4: "I", 6: "b", 7: "B", 8: "h",
               9: "i"}[typ]
        tags[tag] = list(struct.unpack_from(e + str(cnt) + fmt, blob, src))
    (nxt,) = struct.unpack_from(e + "I", blob, off + 2 + 12 * n)
    return tags, nxt


def packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (Apple RLE): n>=0 → copy n+1 literal bytes; n in
    [-127,-1] → repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        h = data[i]
        i += 1
        if h < 128:
            out += data[i:i + h + 1]
            i += h + 1
        elif h > 128:
            if i < n:
                out += bytes([data[i]]) * (257 - h)
                i += 1
        # h == 128: no-op
    return bytes(out)


def tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first variable-width codes
    starting at 9 bits, ClearCode=256, EOI=257, early-change code-width
    bump (at table size 511/1023/2047)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    buf = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            if len(table) in (511, 1023, 2047):  # early change
                width += 1
    return bytes(out)


def _tiff_decode_ifd(blob: bytes, e: str, tags: dict) -> tuple[np.ndarray,
                                                               int | None]:
    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    w = one(_TIFF_TAG_WIDTH)
    h = one(_TIFF_TAG_LENGTH)
    if not w or not h:
        raise ValueError("TIFF: missing dimensions")
    spp = one(_TIFF_TAG_SAMPLES, 1)
    bits = tags.get(_TIFF_TAG_BITS, [8])
    if any(b != 8 for b in bits):
        raise ValueError(f"TIFF: {bits}-bit samples not supported (8 only)")
    if one(_TIFF_TAG_PLANAR, 1) != 1:
        raise ValueError("TIFF: planar config 2 not supported")
    comp = one(_TIFF_TAG_COMPRESSION, 1)
    photo = one(_TIFF_TAG_PHOTOMETRIC, 1)
    offsets = tags.get(_TIFF_TAG_STRIP_OFFSETS)
    counts = tags.get(_TIFF_TAG_STRIP_COUNTS)
    if not offsets or not counts:
        raise ValueError("TIFF: tiled or stripless file not supported")
    raw = bytearray()
    for o, c in zip(offsets, counts):
        strip = blob[o:o + c]
        if comp == 1:
            raw += strip
        elif comp == 5:
            raw += tiff_lzw_decode(strip)
        elif comp == 32773:
            raw += packbits_decode(strip)
        else:
            raise ValueError(f"TIFF: compression {comp} not supported "
                             "(none/LZW/PackBits only)")
    need = w * h * spp
    if len(raw) < need:
        raise ValueError("TIFF: truncated pixel data")
    px = np.frombuffer(bytes(raw), dtype=np.uint8, count=need) \
        .reshape(h, w, spp).copy()
    if comp == 5 and one(_TIFF_TAG_PREDICTOR, 1) == 2:
        # horizontal differencing: undo with per-row cumulative sum
        px = (np.cumsum(px.astype(np.uint64), axis=1) & 0xFF).astype(np.uint8)
    orientation = one(_TIFF_TAG_ORIENTATION)

    if photo == 2:
        if spp < 3:
            raise ValueError("TIFF: RGB photometric with <3 samples")
        rgb = px[:, :, :3]
    elif photo in (0, 1):
        g = px[:, :, :1]
        if photo == 0:  # WhiteIsZero
            g = 255 - g
        rgb = np.repeat(g, 3, axis=2)
    elif photo == 3:
        cmap = tags.get(_TIFF_TAG_COLORMAP)
        if not cmap or len(cmap) % 3:
            raise ValueError("TIFF: palette image without ColorMap")
        ncol = len(cmap) // 3
        # ColorMap is 16-bit per channel, all reds then greens then blues
        lut = (np.asarray(cmap, dtype=np.uint32)
               .reshape(3, ncol).T >> 8).astype(np.uint8)
        ix = px[:, :, 0]
        if ix.max(initial=0) >= ncol:
            raise ValueError("TIFF: palette index out of range")
        rgb = lut[ix]
    else:
        raise ValueError(f"TIFF: photometric {photo} not supported")
    return np.ascontiguousarray(rgb), orientation


def decode_tiff_frames(blob: bytes,
                       max_frames: int | None = None,
                       ) -> list[tuple[np.ndarray, int | None]]:
    """All frames of a (possibly multi-frame) TIFF, in IFD-chain order —
    the D3 multi-frame walk, natively. ``max_frames`` caps the walk (and
    the per-frame canvas copies held in memory)."""
    e = _tiff_endian(blob)
    (off,) = struct.unpack_from(e + "I", blob, 4)
    frames = []
    seen = set()
    while off and off not in seen and off + 2 <= len(blob):
        if max_frames is not None and len(frames) >= max_frames:
            break
        seen.add(off)  # cycle guard
        tags, off = _tiff_read_ifd(blob, e, off)
        frames.append(_tiff_decode_ifd(blob, e, tags))
    if not frames:
        raise ValueError("TIFF: no IFDs")
    return frames


def _tiff_endian(blob: bytes) -> str:
    if blob[:4] == b"II*\x00":
        return "<"
    if blob[:4] == b"MM\x00*":
        return ">"
    raise ValueError("TIFF: bad header")


def decode_tiff(blob: bytes) -> tuple[np.ndarray, int | None]:
    """First frame only (single-image decode contract) — reads
    and decodes just the first IFD, not the whole chain (a 100-page
    archive must not cost 100 decodes on a hot path)."""
    e = _tiff_endian(blob)
    (off,) = struct.unpack_from(e + "I", blob, 4)
    tags, _ = _tiff_read_ifd(blob, e, off)
    return _tiff_decode_ifd(blob, e, tags)


def count_frames(blob: bytes) -> int:
    """Frame count: TIFF → IFD-chain length, GIF → image-descriptor
    count, PDF → page count, everything else 1 (the D3 'single images
    pass through' rule). Header/structure walk only — no pixel decode.
    Error contract: ValueError only (see builtin_decode_fn)."""
    try:
        return _count_frames(blob)
    except ValueError:
        raise
    except _PARSE_ERRORS as e:
        raise ValueError(f"count_frames: malformed container ({e!r})") from e


def _count_frames(blob: bytes) -> int:
    fmt = sniff_format(blob)
    if fmt == "tiff":
        e = _tiff_endian(blob)
        (off,) = struct.unpack_from(e + "I", blob, 4)
        n = 0
        seen = set()
        while off and off not in seen and off + 2 <= len(blob):
            seen.add(off)
            _, off = _tiff_read_ifd(blob, e, off)
            n += 1
        if n == 0:
            raise ValueError("TIFF: no IFDs")
        return n
    if fmt == "gif":
        return _gif_count_descriptors(blob)
    if fmt == "pdf":
        from .pdf import pdf_meta
        return pdf_meta(blob)["n_pages"]
    return 1


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (inverse of :func:`tiff_lzw_decode`)."""
    out_bits = []
    width = 9
    table = {bytes([i]): i for i in range(256)}
    nxt = 258

    def emit(code):
        out_bits.append((code, width))

    emit(256)  # Clear
    s = b""
    for b in data:
        c = bytes([b])
        if s + c in table:
            s += c
        else:
            emit(table[s])
            table[s + c] = nxt
            nxt += 1
            # early change: encoder bumps one code earlier than the
            # table fills, mirroring the decoder's 511/1023/2047 bump
            if nxt in (512, 1024, 2048):
                width += 1
            if nxt == 4094:
                emit(256)
                table = {bytes([i]): i for i in range(256)}
                nxt = 258
                width = 9
            s = c
    if s:
        emit(table[s])
    emit(257)  # EOI
    buf = 0
    nbits = 0
    out = bytearray()
    for code, wd in out_bits:
        buf = (buf << wd) | code
        nbits += wd
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """Literal-only PackBits (valid, if not maximally compact)."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


def encode_tiff(frames, compression: int = 1,
                orientation: int | None = None,
                predictor: int = 1) -> bytes:
    """Multi-frame little-endian TIFF writer for tests/fixtures.
    ``frames``: list of (h, w, 3) uint8 RGB arrays (or (h, w) gray);
    ``compression``: 1 none, 5 LZW, 32773 PackBits; ``predictor`` 2 adds
    horizontal differencing (LZW only, per TIFF 6.0 §14)."""
    body = bytearray(b"II*\x00\x00\x00\x00\x00")  # ifd0 offset patched below
    ifd_offsets = []
    for fi, arr in enumerate(frames):
        arr = np.ascontiguousarray(arr, dtype=np.uint8)
        if arr.ndim == 2:
            arr = arr[:, :, None]
        h, w, spp = arr.shape
        photo = 2 if spp == 3 else 1
        if compression == 5 and predictor == 2:
            d = arr.astype(np.int16)
            d[:, 1:] -= arr[:, :-1].astype(np.int16)
            raw = (d & 0xFF).astype(np.uint8).tobytes()
        else:
            raw = arr.tobytes()
        if compression == 5:
            strip = tiff_lzw_encode(raw)
        elif compression == 32773:
            strip = packbits_encode(raw)
        else:
            strip = raw
        strip_off = len(body)
        body += strip
        if len(body) % 2:
            body += b"\x00"
        entries = [
            (_TIFF_TAG_WIDTH, 4, 1, w),
            (_TIFF_TAG_LENGTH, 4, 1, h),
            (_TIFF_TAG_BITS, 3, 1, 8) if spp == 1 else None,
            (_TIFF_TAG_COMPRESSION, 3, 1, compression),
            (_TIFF_TAG_PHOTOMETRIC, 3, 1, photo),
            (_TIFF_TAG_STRIP_OFFSETS, 4, 1, strip_off),
            (_TIFF_TAG_SAMPLES, 3, 1, spp),
            (_TIFF_TAG_ROWS_PER_STRIP, 4, 1, h),
            (_TIFF_TAG_STRIP_COUNTS, 4, 1, len(strip)),
        ]
        if spp == 3:
            # BitsPerSample [8,8,8] needs external storage (3×2 = 6 > 4)
            bits_off = len(body)
            body += struct.pack("<3H", 8, 8, 8)
            entries[2] = (_TIFF_TAG_BITS, 3, 3, bits_off)
        if compression == 5 and predictor == 2:
            entries.append((_TIFF_TAG_PREDICTOR, 3, 1, 2))
        if orientation is not None and fi == 0:
            entries.append((_TIFF_TAG_ORIENTATION, 3, 1, orientation))
        entries = sorted(e for e in entries if e)
        ifd_off = len(body)
        ifd_offsets.append(ifd_off)
        body += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            body += struct.pack("<HHI", tag, typ, cnt)
            # the 4-byte value slot holds an OFFSET whenever the payload
            # exceeds 4 bytes — offsets are always packed <I even for
            # SHORT-typed entries (bits_off > 65535 crashed <HH packing)
            if typ == 4 or _TIFF_TYPE_SIZE[typ] * cnt > 4:
                body += struct.pack("<I", val)
            else:
                body += struct.pack("<HH", val, 0)
        body += b"\x00\x00\x00\x00"  # next-IFD, linked below
    struct.pack_into("<I", body, 4, ifd_offsets[0])
    for prev, nxt in zip(ifd_offsets, ifd_offsets[1:]):
        # next-IFD pointer sits after the entry table of the previous IFD
        (n,) = struct.unpack_from("<H", body, prev)
        struct.pack_into("<I", body, prev + 2 + 12 * n, nxt)
    return bytes(body)


# --------------------------------------------------------------------------
# GIF (GIF87a/89a; palette, interlace, transparency, multi-frame)
# --------------------------------------------------------------------------
#
# GIF's LZW differs from TIFF's: LSB-first bit packing, per-image minimum
# code size, code width grows when the table FILLS (no early change), and
# the table caps at 4096 until a Clear code. Frames composite onto the
# logical-screen canvas (sub-rect placement honored); transparency is
# drawn as "leave underlying pixel" with a white initial canvas —
# disposal-method restore-to-background/previous are approximated by the
# accumulate rule (documented; thumbnail use only needs the composite).

def gif_lzw_decode(data: bytes, min_code: int) -> list[int]:
    """GIF-variant LZW → pixel index list."""
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    buf = 0
    nbits = 0
    for byte in data:
        buf |= byte << nbits  # LSB-first
        nbits += 8
        while nbits >= width:
            code = buf & ((1 << width) - 1)
            buf >>= width
            nbits -= width
            if code == clear:
                table = [(i,) for i in range(clear)] + [(), ()]
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return out


def gif_lzw_encode(indices, min_code: int) -> bytes:
    """GIF-variant LZW encoder (inverse of :func:`gif_lzw_decode`)."""
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    nxt = eoi + 1
    buf = 0
    nbits = 0
    out = bytearray()

    def emit(code, wd):
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += wd
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    emit(clear, width)
    s: tuple[int, ...] = ()
    for ix in indices:
        c = (int(ix),)
        if s + c in table:
            s = s + c
            continue
        emit(table[s], width)
        table[s + c] = nxt
        nxt += 1
        if nxt - 1 == (1 << width) and width < 12:
            width += 1
        if nxt == 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            nxt = eoi + 1
            width = min_code + 1
        s = c
    if s:
        emit(table[s], width)
    emit(eoi, width)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_deinterlace_rows(h: int) -> list[int]:
    rows = []
    for start, step in _GIF_INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return rows


def decode_gif_frames(blob: bytes, max_frames: int | None = None,
                      ) -> list[tuple[np.ndarray, int | None]]:
    """All frames of a GIF, composited in order onto the logical screen
    (white initial canvas). Orientation is always None (GIF has no EXIF)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("GIF: bad signature")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", blob, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    canvas = np.full((sh, sw, 3), 255, dtype=np.uint8)
    frames: list[tuple[np.ndarray, int | None]] = []
    transparent: int | None = None
    while pos < len(blob):
        b0 = blob[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = blob[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                size = blob[pos]
                gpacked = blob[pos + 1]
                tix = blob[pos + 4]
                transparent = tix if gpacked & 0x01 else None
                pos += 1 + size
            while blob[pos] != 0:  # skip (remaining) sub-blocks
                pos += 1 + blob[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{b0:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", blob, pos)
        pos += 9
        lct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            lct = np.frombuffer(blob, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if lct is None:
            raise ValueError("GIF: image without any color table")
        min_code = blob[pos]
        pos += 1
        data = bytearray()
        while blob[pos] != 0:
            ln = blob[pos]
            data += blob[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        ix = gif_lzw_decode(bytes(data), min_code)
        if len(ix) < w * h:
            raise ValueError("GIF: truncated image data")
        ix = np.asarray(ix[:w * h], dtype=np.uint16).reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4-pass order
            dest = np.empty_like(ix)
            dest[_gif_deinterlace_rows(h)] = ix
            ix = dest
        if ix.max(initial=0) >= len(lct):
            raise ValueError("GIF: palette index out of range")
        rgb = lct[ix]
        region = canvas[top:top + h, left:left + w]
        if transparent is not None:
            mask = (ix != transparent)[:, :, None]
            region[...] = np.where(mask, rgb, region)
        else:
            region[...] = rgb
        frames.append((canvas.copy(), None))
        transparent = None
        if max_frames is not None and len(frames) >= max_frames:
            return frames
    if not frames:
        raise ValueError("GIF: no image data")
    return frames


def decode_gif(blob: bytes) -> tuple[np.ndarray, int | None]:
    """First composited frame (single-image decode contract) — stops
    after the first image descriptor instead of decoding the whole
    animation."""
    return decode_gif_frames(blob, max_frames=1)[0]


def _gif_count_descriptors(blob: bytes) -> int:
    """Image-descriptor count by block walk — skips color tables and data
    sub-blocks without LZW decode."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("GIF: bad signature")
    packed = blob[10]
    pos = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    n = 0
    while pos < len(blob):
        b0 = blob[pos]
        pos += 1
        if b0 == 0x3B:
            break
        if b0 == 0x21:
            pos += 1
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{b0:02x}")
        ipacked = blob[pos + 8]
        pos += 9
        if ipacked & 0x80:
            pos += 3 * (2 << (ipacked & 0x07))
        pos += 1  # LZW min code size
        while blob[pos] != 0:
            pos += 1 + blob[pos]
        pos += 1
        n += 1
    if n == 0:
        raise ValueError("GIF: no image data")
    return n


def encode_gif(frames, interlace: bool = False,
               transparent_index: int | None = None) -> bytes:
    """GIF89a writer for tests/fixtures. ``frames``: list of (h, w, 3)
    uint8 arrays, each with ≤256 distinct colors (exact palettization —
    no quantizer here on purpose); every frame is written full-canvas with
    its own local color table."""
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    sh, sw = frames[0].shape[:2]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0, 0, 0)  # no GCT
    for arr in frames:
        h, w = arr.shape[:2]
        flat = arr.reshape(-1, 3)
        pal, ix = np.unique(flat, axis=0, return_inverse=True)
        if len(pal) > 256:
            raise ValueError("encode_gif: >256 distinct colors")
        bits = max(2, int(np.ceil(np.log2(max(len(pal), 2)))))
        n = 1 << bits
        table = np.zeros((n, 3), dtype=np.uint8)
        table[:len(pal)] = pal
        ix = ix.reshape(h, w)
        if transparent_index is not None:
            out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent_index, 0])
        if interlace:
            ix = ix[_gif_deinterlace_rows(h)]  # store rows in pass order
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                           0x80 | (0x40 if interlace else 0) | (bits - 1))
        out += table.tobytes()
        min_code = bits
        out.append(min_code)
        data = gif_lzw_encode(ix.reshape(-1).tolist(), min_code)
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def _webp_dims(blob: bytes) -> tuple[int, int] | None:
    """WebP dims from the first chunk header: VP8X canvas (24-bit LE
    minus-one fields), VP8 lossy frame tag, or VP8L 14-bit packed."""
    ctype = blob[12:16]
    if ctype == b"VP8X" and len(blob) >= 30:
        w = int.from_bytes(blob[24:27], "little") + 1
        h = int.from_bytes(blob[27:30], "little") + 1
        return w, h
    if ctype == b"VP8 " and len(blob) >= 30 and             blob[23:26] == b"\x9d\x01\x2a":
        (w,) = struct.unpack_from("<H", blob, 26)
        (h,) = struct.unpack_from("<H", blob, 28)
        return w & 0x3FFF, h & 0x3FFF
    if ctype == b"VP8L" and len(blob) >= 25 and blob[20] == 0x2F:
        (bits,) = struct.unpack_from("<I", blob, 21)
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
    return None


def sniff_dimensions(blob: bytes) -> tuple[int, int] | None:
    """Header-only (width, height) — the cheap D1 metadata path: no
    decompression, no pixel decode, O(header) bytes touched per record.
    Returns None when the format is unknown or the header is mangled."""
    fmt = sniff_format(blob)
    try:
        if fmt == "png":
            w, h = struct.unpack_from(">II", blob, 16)
            return int(w), int(h)
        if fmt == "bmp":
            w, h = struct.unpack_from("<ii", blob, 18)
            return int(w), abs(int(h))
        if fmt == "gif":
            w, h = struct.unpack_from("<HH", blob, 6)
            return int(w), int(h)
        if fmt in ("ppm", "pgm"):
            toks = []
            pos = 2
            while len(toks) < 2 and pos < len(blob):
                while pos < len(blob) and blob[pos:pos + 1].isspace():
                    pos += 1
                if blob[pos:pos + 1] == b"#":
                    while pos < len(blob) and blob[pos] not in (0x0A, 0x0D):
                        pos += 1
                    continue
                start = pos
                while pos < len(blob) and blob[pos:pos + 1].isdigit():
                    pos += 1
                if pos == start:
                    return None
                toks.append(int(blob[start:pos]))
            return (toks[0], toks[1]) if len(toks) == 2 else None
        if fmt == "tiff":
            e = "<" if blob[:2] == b"II" else ">"
            (off,) = struct.unpack_from(e + "I", blob, 4)
            tags, _ = _tiff_read_ifd(blob, e, off)
            w = tags.get(_TIFF_TAG_WIDTH)
            h = tags.get(_TIFF_TAG_LENGTH)
            return (int(w[0]), int(h[0])) if w and h else None
        if fmt == "webp":
            return _webp_dims(blob)
        if fmt == "pdf":
            # page-1 MediaBox in whole points (structure walk only; PDFs
            # are scalable — pdf.render_plan gives the 300-DPI pixel dims)
            from .pdf import pdf_page_dims
            return pdf_page_dims(blob)
        if fmt == "ico":
            w, h = blob[6], blob[7]  # first directory entry; 0 means 256
            return (w or 256, h or 256)
        if fmt in ("avif", "heif"):
            # targeted scan for the ispe (image spatial extents) property:
            # size(4) 'ispe' version/flags(4) width(4) height(4)
            ix = blob.find(b"ispe")
            if ix >= 4 and ix + 16 <= len(blob):
                w, h = struct.unpack_from(">II", blob, ix + 8)
                if w and h:
                    return int(w), int(h)
            return None
        if fmt == "svg":
            m = re.search(rb'<svg[^>]{0,512}?\bwidth\s*=\s*["\']'
                          rb'(\d+)(?:px)?["\']', blob[:1024])
            m2 = re.search(rb'<svg[^>]{0,512}?\bheight\s*=\s*["\']'
                           rb'(\d+)(?:px)?["\']', blob[:1024])
            if m and m2:
                return int(m.group(1)), int(m2.group(1))
            return None
        if fmt == "jpeg":
            pos = 2
            while pos + 4 <= len(blob):
                if blob[pos] != 0xFF:
                    return None
                marker = blob[pos + 1]
                if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                    pos += 2
                    continue
                (ln,) = struct.unpack_from(">H", blob, pos + 2)
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8,
                                                             0xCC):
                    h, w = struct.unpack_from(">HH", blob, pos + 5)
                    return int(w), int(h)
                pos += 2 + ln
    except ValueError:
        return None
    except _PARSE_ERRORS:
        return None
    return None


# --------------------------------------------------------------------------
# D4/D5: EXIF rotation + resize/letterbox arithmetic (pure numpy; all
# geometry below is codec-free).
# --------------------------------------------------------------------------

def exif_rotation_angle(orientation: int | None) -> int:
    """EXIF orientation tag → anticlockwise rotation degrees
    (``image_utils.py:59-80``: 3→180, 6→270, 8→90, anything else → 0;
    mirrored orientations 2/4/5/7 are deliberately untouched, as in the
    reference)."""
    return {3: 180, 6: 270, 8: 90}.get(orientation or 0, 0)


def apply_exif_rotation_array(arr: np.ndarray,
                              orientation: int | None) -> tuple[np.ndarray, int]:
    """Rotate (h, w[, c]) pixels per the EXIF tag; returns (pixels, angle).
    ``np.rot90(k)`` is anticlockwise like PIL's ``rotate(expand=True)``."""
    angle = exif_rotation_angle(orientation)
    if angle:
        arr = np.rot90(arr, k=angle // 90)
    return arr, angle


def resize_plan(iw: int, ih: int, size, default_square: bool = True,
                max_size: int | None = None) -> tuple[int, int]:
    """Target (width, height) per the reference's size normalization
    (``image_utils.py:125-155``): a (w, h) pair passes through; a single
    number is a square when ``default_square`` else the *shortest-edge*
    target with aspect preserved and the ``max_size`` long-edge overrule
    (all divisions truncate via int(), exactly as the reference)."""
    if hasattr(size, "__len__"):
        if len(size) != 1:
            return int(size[0]), int(size[1])
        size = size[0]
    if default_square:
        return int(size), int(size)
    short = int(size)
    ishort, ilong = (iw, ih) if iw <= ih else (ih, iw)
    if short == ishort:
        return iw, ih  # reference returns the original image untouched
    long = int(short * ilong / ishort)
    if max_size is not None:
        if max_size <= short:
            raise ValueError(
                f"max_size = {max_size} must be strictly greater than the "
                f"requested size for the smaller edge = {short}")
        if long > max_size:
            short, long = int(max_size * short / long), max_size
    return (short, long) if iw <= ih else (long, short)


def letterbox_plan(iw: int, ih: int, w: int, h: int) -> tuple[int, int, int, int]:
    """(new_w, new_h, offset_x, offset_y) for letterboxing iw×ih into w×h
    (``image_utils.py:157-165``: scale = min(w/iw, h/ih), truncating resize,
    centered paste with floor-div offsets)."""
    scale = min(w / iw, h / ih)
    nw, nh = int(iw * scale), int(ih * scale)
    return nw, nh, (w - nw) // 2, (h - nh) // 2


def stretch_resize_array(arr: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor stretch of (ih, iw[, c]) pixels to (h, w[, c]).
    (The reference resamples BICUBIC via PIL — a codec detail; the *plan*
    arithmetic above is what must match. Nearest keeps this path
    dependency-free and deterministic.)"""
    ih, iw = arr.shape[:2]
    ys = (np.arange(h) * ih) // h
    xs = (np.arange(w) * iw) // w
    return arr[ys][:, xs]


def letterbox_array(arr: np.ndarray, w: int, h: int,
                    color: tuple[int, int, int] = (0, 0, 0)) -> np.ndarray:
    """Letterbox (ih, iw, 3) pixels into a w×h canvas of ``color``."""
    ih, iw = arr.shape[:2]
    nw, nh, ox, oy = letterbox_plan(iw, ih, w, h)
    out = np.empty((h, w, 3), dtype=arr.dtype)
    out[:, :] = np.asarray(color, dtype=arr.dtype)
    out[oy:oy + nh, ox:ox + nw] = stretch_resize_array(arr, nw, nh)
    return out
