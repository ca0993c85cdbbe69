"""PDF structure parser — from-scratch ISO 32000 subset, stdlib-only.

The reference's media-type registry marks ``.pdf`` as its primary
*scalable* input (``notebooks/preproc/textract_transformers/image_utils.py:27-42``)
and rasterizes via pdf2image at 300 DPI (``image_utils.py:560-582``,
``util/ocr.py:33``) for Textract OCR. This engine has no OCR step, so it
reads the PDF's own structure and text instead, with a native front door:

* **structure parse** — COS object tokenizer, classic ``xref`` tables AND
  PDF-1.5 cross-reference streams (FlateDecode + PNG predictors, both
  stdlib ``zlib``), object streams (``/Type /ObjStm``), incremental-update
  ``/Prev`` chains, and a brute-force ``N G obj`` scan fallback for the
  broken-xref files every real crawl contains;
* **page metadata** — page-tree walk with ``/MediaBox`` / ``/Rotate``
  inheritance → per-page point dimensions + page count, header-only in
  spirit (no page *content* is decoded for metadata);
* **text extraction** — content-stream interpreter (BT/ET, Td/TD/Tm/T*,
  TL/Tc/Tw/Tz, Tj/TJ/'/") emitting pages→lines→words with real baseline
  geometry in PDF points. Show-strings decode through the active font:
  /ToUnicode CMaps (bfchar/bfrange), simple-font /Encoding with
  /Differences over WinAnsi/MacRoman/Standard base tables (Adobe Glyph
  List subset), and Type0/CID Identity-H 2-byte codes — the
  subsetted-font PDFs real crawls are made of decode to correct
  *bytes*, not glyph-index mojibake. Glyph advance uses /FirstChar +
  /Widths (or CID /DW + /W), falling back to the Courier 600/1000 em
  metric for fonts with no width table;
* **decryption** — the standard security handler (RC4 V≤2/R2-3 and
  AES-128-CBC V4/R4 /AESV2) with the EMPTY user password: the
  owner-locked case that dominates "encrypted" crawl PDFs. /U is
  verified first; a true user password leaves the document
  metadata-only (never ciphertext-as-text). AES runs on a from-scratch
  FIPS-197 implementation (test-vector pinned) — pure Python, fine for
  crawl-typical streams; a hot path with many large AES documents would
  want a native crypto seam.

A fixture writer (:func:`write_pdf`) emits spec-valid PDFs in four
structural dialects (classic xref / xref stream / +predictor / +ObjStm,
optionally Flate-compressed content) so every parser path is exercised
without any binary test assets.
"""

from __future__ import annotations

import re
import zlib
from typing import NamedTuple


class Ref(NamedTuple):
    num: int
    gen: int


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_EOL = (0x0A, 0x0D)

# US Letter — the spec's default when MediaBox is missing everywhere
_DEFAULT_BOX = (0.0, 0.0, 612.0, 792.0)
_COURIER_EM = 0.6  # Courier advance width, 600/1000 em
_MAX_PAGES = 200_000
_MAX_RESOLVE_DEPTH = 32


def sniff_pdf(blob: bytes) -> bool:
    return blob.startswith(b"%PDF-")


def pdf_version(blob: bytes) -> str | None:
    m = re.match(rb"%PDF-(\d+\.\d+)", blob[:16])
    return m.group(1).decode() if m else None


# --------------------------------------------------------------------------
# COS object tokenizer
# --------------------------------------------------------------------------

def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # % comment to EOL
            while pos < n and data[pos] not in _EOL:
                pos += 1
        else:
            break
    return pos


def _parse_name(data: bytes, pos: int) -> tuple[str, int]:
    pos += 1  # '/'
    out = bytearray()
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS or c in _DELIM:
            break
        if c == 0x23 and pos + 2 < n:  # '#xx'
            try:
                out.append(int(data[pos + 1:pos + 3], 16))
                pos += 3
                continue
            except ValueError:
                pass
        out.append(c)
        pos += 1
    return out.decode("latin-1"), pos


_STR_ESC = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C,
            0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}


def _parse_literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    pos += 1  # '('
    out = bytearray()
    depth = 1
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            if pos + 1 >= n:
                break
            e = data[pos + 1]
            if e in _STR_ESC:
                out.append(_STR_ESC[e])
                pos += 2
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = pos + 1
                oct_digits = bytearray()
                while j < n and len(oct_digits) < 3 and 0x30 <= data[j] <= 0x37:
                    oct_digits.append(data[j])
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                pos = j
            elif e in _EOL:  # line continuation
                pos += 2
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
                pos += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    return bytes(out), pos


def _parse_hex_string(data: bytes, pos: int) -> tuple[bytes, int]:
    end = data.find(b">", pos + 1)
    if end < 0:
        end = len(data)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[pos + 1:end])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode()), end + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_INT_RE = re.compile(rb"\d+")


def _parse_value(data: bytes, pos: int):
    """One COS value starting at ``pos`` (whitespace already skipped).
    Returns (value, new_pos); value is dict/list/Ref/int/float/bool/None/
    str (names) / bytes (strings)."""
    c = data[pos]
    if c == 0x2F:  # /
        return _parse_name(data, pos)
    if c == 0x28:  # (
        return _parse_literal_string(data, pos)
    if c == 0x3C:  # < or <<
        if data[pos:pos + 2] == b"<<":
            d = {}
            pos += 2
            while True:
                pos = _skip_ws(data, pos)
                if pos >= len(data):
                    break
                if data[pos:pos + 2] == b">>":
                    return d, pos + 2
                if data[pos] != 0x2F:  # malformed key — bail
                    break
                key, pos = _parse_name(data, pos)
                pos = _skip_ws(data, pos)
                if pos >= len(data):
                    break
                val, pos = _parse_value(data, pos)
                d[key] = val
            return d, pos
        return _parse_hex_string(data, pos)
    if c == 0x5B:  # [
        arr = []
        pos += 1
        while True:
            pos = _skip_ws(data, pos)
            if pos >= len(data) or data[pos] == 0x5D:
                return arr, min(pos + 1, len(data))
            val, pos = _parse_value(data, pos)
            arr.append(val)
    if data.startswith(b"true", pos):
        return True, pos + 4
    if data.startswith(b"false", pos):
        return False, pos + 5
    if data.startswith(b"null", pos):
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if m:
        tok = m.group()
        end = m.end()
        if b"." not in tok:
            # lookahead for "G R" → indirect reference
            p2 = _skip_ws(data, end)
            m2 = _INT_RE.match(data, p2)
            if m2:
                p3 = _skip_ws(data, m2.end())
                if data[p3:p3 + 1] == b"R" and (
                        p3 + 1 >= len(data)
                        or data[p3 + 1] in _WS or data[p3 + 1] in _DELIM):
                    return Ref(int(tok), int(m2.group())), p3 + 1
            return int(tok), end
        return float(tok), end
    raise ValueError(f"PDF: unparseable token at {pos}: {data[pos:pos+16]!r}")


# --------------------------------------------------------------------------
# filters
# --------------------------------------------------------------------------

def _png_unpredict(data: bytes, columns: int, bpp: int = 1) -> bytes:
    """PNG row predictors (ISO 32000 7.4.4.4, /Predictor >= 10) — rows of
    (1 + columns) bytes, filter byte first; same math as the PNG codec but
    scalar (xref streams are tiny)."""
    row = columns
    out = bytearray()
    prev = bytearray(row)
    pos = 0
    while pos + 1 + row <= len(data):
        ft = data[pos]
        cur = bytearray(data[pos + 1:pos + 1 + row])
        for i in range(row):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 1:
                cur[i] = (cur[i] + a) & 0xFF
            elif ft == 2:
                cur[i] = (cur[i] + b) & 0xFF
            elif ft == 3:
                cur[i] = (cur[i] + ((a + b) >> 1)) & 0xFF
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        out += cur
        prev = cur
        pos += 1 + row
    return bytes(out)


def _decode_stream(d: dict, raw: bytes, resolve) -> bytes:
    """Apply /Filter (+ /DecodeParms). FlateDecode only — every structural
    stream this engine reads (xref, ObjStm, our content) is Flate or raw;
    image filters (DCT/JBIG2/...) never reach this path."""
    filt = resolve(d.get("Filter"))
    parms = resolve(d.get("DecodeParms")) or resolve(d.get("DP")) or {}
    filters = filt if isinstance(filt, list) else ([filt] if filt else [])
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    data = raw
    for f, p in zip(filters, parms_list):
        f = resolve(f)
        p = resolve(p) or {}
        if f == "FlateDecode":
            data = zlib.decompress(data)
            pred = int(resolve(p.get("Predictor")) or 1)
            if pred >= 10:
                cols = int(resolve(p.get("Columns")) or 1)
                colors = int(resolve(p.get("Colors")) or 1)
                bpc = int(resolve(p.get("BitsPerComponent")) or 8)
                data = _png_unpredict(data, cols * colors * bpc // 8,
                                      max(colors * bpc // 8, 1))
        elif f in ("ASCIIHexDecode",):
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">", 1)[0])
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode())
        else:
            raise ValueError(f"PDF: unsupported stream filter {f}")
    return data


# --------------------------------------------------------------------------
# document: xref + object loading
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PdfDocument:
    """Random-access view over one PDF blob: xref → object resolution →
    page tree. All lazy; construction only walks the xref (or the brute
    scan fallback)."""

    def __init__(self, blob: bytes):
        if not sniff_pdf(blob):
            raise ValueError("PDF: missing %PDF- header")
        self.blob = blob
        self.version = pdf_version(blob)
        # num -> ("n", byte_offset) | ("s", objstm_num, index_in_stream)
        self.xref: dict[int, tuple] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        self._scanned = False
        self._enc: _StdSecurity | None = None
        self._enc_num = -1
        try:
            self._load_xref()
        except Exception:
            self.xref = {}
        if not self.xref or "Root" not in self.trailer:
            self._scan_fallback()
        self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Standard security handler with the empty user password; wrong
        passwords or unsupported handlers leave the doc metadata-only
        (``encrypted`` still flags either way)."""
        ref = self.trailer.get("Encrypt")
        if ref is None:
            return
        if isinstance(ref, Ref):
            self._enc_num = ref.num
        enc = self.resolve(ref)
        if isinstance(enc, tuple):
            enc = enc[0]
        if not isinstance(enc, dict):
            return
        ids = self.trailer.get("ID")
        id0 = ids[0] if isinstance(ids, list) and ids and \
            isinstance(ids[0], bytes) else b""
        try:
            sec = _StdSecurity(enc, id0, self.resolve)
        except Exception:
            return
        if sec.ok:
            self._enc = sec
            # anything loaded while bootstrapping was read undecrypted
            self._cache = {}
            self._objstm_cache = {}

    # -- xref ------------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.blob[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("PDF: no startxref")
        todo = [int(m.group(1))]
        seen = set()
        while todo:
            off = todo.pop(0)
            if off in seen or off <= 0 or off >= len(self.blob):
                continue
            seen.add(off)
            pos = _skip_ws(self.blob, off)
            if self.blob.startswith(b"xref", pos):
                trailer = self._load_xref_table(pos + 4)
            else:
                trailer = self._load_xref_stream(pos)
            if not self.trailer:
                self.trailer = dict(trailer)
            for key in ("Prev", "XRefStm"):
                nxt = trailer.get(key)
                if isinstance(nxt, (int, float)):
                    todo.append(int(nxt))

    def _load_xref_table(self, pos: int) -> dict:
        data = self.blob
        while True:
            pos = _skip_ws(data, pos)
            if data.startswith(b"trailer", pos):
                pos = _skip_ws(data, pos + 7)
                trailer, _ = _parse_value(data, pos)
                return trailer if isinstance(trailer, dict) else {}
            m = re.match(rb"(\d+)\s+(\d+)", data[pos:pos + 40])
            if not m:
                return {}
            start, count = int(m.group(1)), int(m.group(2))
            pos = _skip_ws(data, pos + m.end())
            for i in range(count):
                ent = data[pos:pos + 20]
                em = re.match(rb"(\d{10})\s(\d{5})\s([nf])", ent)
                if em:
                    num = start + i
                    if em.group(3) == b"n" and num not in self.xref:
                        self.xref[num] = ("n", int(em.group(1)))
                    pos += 20 if ent[18:19] in (b"\r", b"\n", b" ") else 18
                else:  # tolerate 19-byte EOL variants
                    nl = data.find(b"\n", pos)
                    pos = nl + 1 if nl >= 0 else pos + 20

    def _load_xref_stream(self, pos: int) -> dict:
        data = self.blob
        m = _OBJ_RE.match(data, pos)
        if not m:
            raise ValueError("PDF: bad xref stream offset")
        d, raw = self._parse_stream_at(_skip_ws(data, m.end()))
        if d.get("Type") != "XRef":
            raise ValueError("PDF: xref stream is not /Type /XRef")
        content = _decode_stream(d, raw, lambda o: o)
        w = [int(x) for x in d.get("W", [1, 1, 1])]
        size = int(d.get("Size", 0))
        index = d.get("Index", [0, size])
        rec = sum(w)
        pos2 = 0

        def field(buf, a, b):
            return int.from_bytes(buf[a:b], "big") if b > a else None

        for i in range(0, len(index), 2):
            start, count = int(index[i]), int(index[i + 1])
            for num in range(start, start + count):
                row = content[pos2:pos2 + rec]
                pos2 += rec
                if len(row) < rec:
                    break
                t = field(row, 0, w[0])
                t = 1 if t is None else t  # w1==0 → default type 1
                f2 = field(row, w[0], w[0] + w[1]) or 0
                f3 = field(row, w[0] + w[1], rec) or 0
                if num in self.xref:
                    continue
                if t == 1:
                    self.xref[num] = ("n", f2)
                elif t == 2:
                    self.xref[num] = ("s", f2, f3)
        return d

    def _scan_fallback(self) -> None:
        """Broken/absent xref: brute-scan ``N G obj`` headers (the *last*
        occurrence of each number wins — incremental-update semantics) and
        find the trailer/catalog by content."""
        self._scanned = True
        for m in _OBJ_RE.finditer(self.blob):
            self.xref[int(m.group(1))] = ("n", m.start())
        if "Root" not in self.trailer:
            for tm in re.finditer(rb"trailer", self.blob):
                pos = _skip_ws(self.blob, tm.end())
                try:
                    t, _ = _parse_value(self.blob, pos)
                    if isinstance(t, dict) and "Root" in t:
                        self.trailer = t
                except Exception:
                    continue
        if "Root" not in self.trailer:
            # last resort: any object whose dict is /Type /Catalog
            for num in sorted(self.xref):
                try:
                    obj = self._load(num)
                except Exception:
                    continue
                if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                    self.trailer = {"Root": Ref(num, 0)}
                    break

    # -- objects ---------------------------------------------------------

    def _parse_stream_at(self, pos: int) -> tuple[dict, bytes]:
        """Object body at ``pos`` must be a dict, optionally followed by a
        stream; returns (dict, raw_stream_bytes)."""
        data = self.blob
        d, pos = _parse_value(data, _skip_ws(data, pos))
        if not isinstance(d, dict):
            return ({}, b"") if d is None else ({"__value__": d}, b"")
        pos = _skip_ws(data, pos)
        if not data.startswith(b"stream", pos):
            return d, b""
        pos += 6
        if data[pos:pos + 2] == b"\r\n":
            pos += 2
        elif data[pos:pos + 1] == b"\n":
            pos += 1
        length = self.resolve(d.get("Length"))
        if isinstance(length, (int, float)) and \
                pos + int(length) <= len(data):
            raw = data[pos:pos + int(length)]
            # trust but verify: a lying /Length shows as missing endstream
            tailpos = _skip_ws(data, pos + int(length))
            if not data.startswith(b"endstream", tailpos):
                end = data.find(b"endstream", pos)
                raw = data[pos:end] if end >= 0 else raw
        else:
            end = data.find(b"endstream", pos)
            raw = data[pos:end].rstrip(b"\r\n") if end >= 0 else b""
        return d, raw

    def _load(self, num: int):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None:
            if not self._scanned:
                self._scan_fallback()
                ent = self.xref.get(num)
            if ent is None:
                return None
        self._cache[num] = None  # cycle guard
        if ent[0] == "n":
            m = _OBJ_RE.match(self.blob, _skip_ws(self.blob, ent[1]))
            if not m or int(m.group(1)) != num:
                if not self._scanned:
                    # stale classic-xref offset: rescan repaired self.xref;
                    # the retry must not see this call's cycle guard or the
                    # repaired entry would resolve to a cached None forever
                    self._scan_fallback()
                    del self._cache[num]
                    return self._load(num)
                return None
            d, raw = self._parse_stream_at(m.end())
            obj = (d, raw) if raw else (
                d.get("__value__") if set(d) == {"__value__"} else d)
            # direct objects: decrypt strings + stream payloads (ObjStm
            # members are NOT re-decrypted — their container was). The
            # object key salts in the REAL generation from the 'N G obj'
            # header — incremental-update PDFs carry gen > 0 objects whose
            # keys differ from the gen-0 derivation.
            if self._enc is not None and num != self._enc_num:
                obj = self._enc.decrypt_object(obj, num, int(m.group(2)))
        else:  # in an object stream
            obj = self._load_from_objstm(ent[1], ent[2])
        self._cache[num] = obj
        return obj

    def _load_from_objstm(self, stm_num: int, idx: int):
        if stm_num not in self._objstm_cache:
            stm = self._load(stm_num)
            objs: list = []
            if isinstance(stm, tuple):
                d, raw = stm
                content = _decode_stream(d, raw, self.resolve)
                n = int(self.resolve(d.get("N")) or 0)
                first = int(self.resolve(d.get("First")) or 0)
                hdr = content[:first].split()
                for i in range(n):
                    off = int(hdr[2 * i + 1])
                    try:
                        val, _ = _parse_value(
                            content, _skip_ws(content, first + off))
                    except (ValueError, IndexError):
                        val = None
                    objs.append(val)
            self._objstm_cache[stm_num] = objs
        objs = self._objstm_cache[stm_num]
        return objs[idx] if 0 <= idx < len(objs) else None

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref) and depth < _MAX_RESOLVE_DEPTH:
            obj = self._load(obj.num)
            depth += 1
        return obj

    # -- page tree -------------------------------------------------------

    @property
    def encrypted(self) -> bool:
        return "Encrypt" in self.trailer

    def pages(self) -> list[dict]:
        """Leaf /Page dicts in tree order with /MediaBox and /Rotate
        inheritance applied (keys ``_MediaBox``/``_Rotate`` carry the
        resolved inherited values)."""
        root = self.resolve(self.trailer.get("Root"))
        top = self.resolve(root.get("Pages")) if isinstance(root, dict) \
            else None
        out: list[dict] = []
        if isinstance(top, dict):
            inherit = {"MediaBox": None, "Rotate": 0, "Resources": None}
            stack = [(top, dict(inherit))]
            visited: set[int] = set()
            while stack and len(out) < _MAX_PAGES:
                node, inh = stack.pop()
                if not isinstance(node, dict):
                    continue
                nid = id(node)
                if nid in visited:
                    continue
                visited.add(nid)
                inh = dict(inh)
                if "MediaBox" in node:
                    inh["MediaBox"] = self.resolve(node["MediaBox"])
                if "Rotate" in node:
                    r = self.resolve(node["Rotate"])
                    if isinstance(r, (int, float)):
                        inh["Rotate"] = int(r)
                if "Resources" in node:  # inheritable (ISO 32000 7.7.3.4)
                    inh["Resources"] = node["Resources"]
                kids = self.resolve(node.get("Kids"))
                if node.get("Type") == "Page" or (
                        kids is None and node.get("Type") != "Pages"):
                    page = dict(node)
                    page["_MediaBox"] = inh["MediaBox"] or list(_DEFAULT_BOX)
                    page["_Rotate"] = inh["Rotate"] % 360
                    if "Resources" not in page and inh["Resources"] is not None:
                        page["_Resources"] = inh["Resources"]
                    out.append(page)
                elif isinstance(kids, list):
                    for kid in reversed(kids):
                        stack.append((self.resolve(kid), inh))
        if not out:
            # tree broken: any /Type /Page object, object-number order
            if not self._scanned:
                self._scan_fallback()
            for num in sorted(self.xref):
                obj = self.resolve(Ref(num, 0))
                if isinstance(obj, dict) and obj.get("Type") == "Page":
                    page = dict(obj)
                    box = self.resolve(obj.get("MediaBox"))
                    page["_MediaBox"] = box or list(_DEFAULT_BOX)
                    page["_Rotate"] = int(
                        self.resolve(obj.get("Rotate")) or 0) % 360
                    out.append(page)
        return out


def _box_dims(box, rotate: int) -> tuple[float, float]:
    try:
        x0, y0, x1, y1 = (float(v) for v in box)
    except (TypeError, ValueError):
        x0, y0, x1, y1 = _DEFAULT_BOX
    w, h = abs(x1 - x0), abs(y1 - y0)
    if rotate % 180 == 90:
        w, h = h, w
    return w, h


def pdf_meta(blob: bytes) -> dict:
    """Structure-only metadata: version, page count, per-page post-rotation
    point dims, encrypted flag.

    Error contract: hostile or truncated input raises ValueError ONLY —
    upstream Arrow stages turn that into the per-record error column."""
    try:
        doc = PdfDocument(blob)
        pages = []
        for p in doc.pages():
            w, h = _box_dims(p["_MediaBox"], p["_Rotate"])
            pages.append({"width_pt": w, "height_pt": h,
                          "rotate": p["_Rotate"]})
        return {"version": doc.version, "n_pages": len(pages),
                "encrypted": doc.encrypted,
                "decrypted": doc._enc is not None, "pages": pages}
    except ValueError:
        raise
    except Exception as e:  # hostile input: any parser failure → ValueError
        raise ValueError(f"PDF: malformed structure ({e!r})") from e


def pdf_page_dims(blob: bytes) -> tuple[int, int] | None:
    """(width, height) of page 1 in whole points — the sniff_dimensions
    contract (points == pixels at 72 DPI; PDFs are scalable, see
    render_plan)."""
    meta = pdf_meta(blob)
    if not meta["pages"]:
        return None
    p = meta["pages"][0]
    return round(p["width_pt"]), round(p["height_pt"])


def render_plan(width_pt: float, height_pt: float,
                dpi: int = 300) -> tuple[int, int]:
    """Pixel geometry of a rasterization at ``dpi`` — the reference's
    300-DPI pdf2image convention (image_utils.py:560-582; ``scalable=True``
    registry rows image_utils.py:27-42). Pure arithmetic; this engine has
    no rasterizer."""
    return round(width_pt * dpi / 72.0), round(height_pt * dpi / 72.0)


# --------------------------------------------------------------------------
# standard security handler (ISO 32000-1 §7.6.3): RC4 and AES-128-CBC
# with the EMPTY user password — the owner-locked case that dominates
# "encrypted" PDFs in web crawls (readable by design; only permissions
# are owner-gated). Wrong/true user passwords leave the document
# metadata-only, exactly as before.
# --------------------------------------------------------------------------

_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


# AES-128: S-box derived from the GF(2^8) inverse + affine transform
# (computed, not transcribed — the generation rule IS the spec).
def _aes_tables():
    sbox = [0] * 256
    p = q = 1
    sbox[0] = 0x63
    while True:
        # p := p * 3 in GF(2^8); q := q / 3 (3 is a generator)
        p = p ^ ((p << 1) & 0xFF) ^ (0x1B if p & 0x80 else 0)
        q ^= q << 1
        q ^= q << 2
        q ^= q << 4
        q &= 0xFF
        if q & 0x80:
            q ^= 0x09
        x = q ^ ((q << 1) | (q >> 7)) ^ ((q << 2) | (q >> 6)) \
            ^ ((q << 3) | (q >> 5)) ^ ((q << 4) | (q >> 4))
        sbox[p] = (x ^ 0x63) & 0xFF
        if p == 1:
            break
    inv = [0] * 256
    for i, v in enumerate(sbox):
        inv[v] = i
    return bytes(sbox), bytes(inv)


_SBOX, _INV_SBOX = _aes_tables()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]


def _xt(a: int) -> int:  # xtime: multiply by 2 in GF(2^8)
    return ((a << 1) ^ (0x1B if a & 0x80 else 0)) & 0xFF


def _gmul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xt(a)
        b >>= 1
    return out


def _aes_expand_key(key: bytes) -> list[bytes]:
    words = [key[i:i + 4] for i in range(0, 16, 4)]
    for i in range(4, 44):
        t = words[i - 1]
        if i % 4 == 0:  # RotWord + SubWord + Rcon
            t = bytes([_SBOX[t[1]] ^ _RCON[i // 4 - 1], _SBOX[t[2]],
                       _SBOX[t[3]], _SBOX[t[0]]])
        words.append(bytes(x ^ y for x, y in zip(words[i - 4], t)))
    return [b"".join(words[i:i + 4]) for i in range(0, 44, 4)]


def _aes_encrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytes(x ^ y for x, y in zip(block, rk[0]))
    for rnd in range(1, 11):
        s = bytes(_SBOX[b] for b in s)                       # SubBytes
        s = bytes(s[(i + 4 * (i % 4)) % 16] for i in range(16))  # ShiftRows
        if rnd < 10:                                         # MixColumns
            out = bytearray(16)
            for c in range(4):
                col = s[4 * c:4 * c + 4]
                for r in range(4):
                    out[4 * c + r] = (
                        _gmul(col[r], 2) ^ _gmul(col[(r + 1) % 4], 3)
                        ^ col[(r + 2) % 4] ^ col[(r + 3) % 4])
            s = bytes(out)
        s = bytes(x ^ y for x, y in zip(s, rk[rnd]))
    return s


def _aes_decrypt_block(rk: list[bytes], block: bytes) -> bytes:
    s = bytes(x ^ y for x, y in zip(block, rk[10]))
    for rnd in range(9, -1, -1):
        s = bytes(s[(i - 4 * (i % 4)) % 16] for i in range(16))  # InvShift
        s = bytes(_INV_SBOX[b] for b in s)                       # InvSub
        s = bytes(x ^ y for x, y in zip(s, rk[rnd]))             # AddKey
        if rnd > 0:                                              # InvMix
            out = bytearray(16)
            for c in range(4):
                col = s[4 * c:4 * c + 4]
                for r in range(4):
                    out[4 * c + r] = (
                        _gmul(col[r], 14) ^ _gmul(col[(r + 1) % 4], 11)
                        ^ _gmul(col[(r + 2) % 4], 13)
                        ^ _gmul(col[(r + 3) % 4], 9))
            s = bytes(out)
    return s


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2 stream/string: 16-byte IV prefix, CBC, PKCS#7 pad."""
    if len(data) < 32 or len(data) % 16:
        return b""
    rk = _aes_expand_key(key)
    prev = data[:16]
    out = bytearray()
    for i in range(16, len(data), 16):
        blk = data[i:i + 16]
        dec = _aes_decrypt_block(rk, blk)
        out += bytes(x ^ y for x, y in zip(dec, prev))
        prev = blk
    pad = out[-1] if out else 0
    if 1 <= pad <= 16:
        out = out[:-pad]
    return bytes(out)


def _aes_cbc_encrypt(key: bytes, data: bytes, iv: bytes) -> bytes:
    rk = _aes_expand_key(key)
    padlen = 16 - (len(data) % 16)
    data = data + bytes([padlen]) * padlen
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(x ^ y for x, y in zip(data[i:i + 16], prev))
        prev = _aes_encrypt_block(rk, blk)
        out += prev
    return bytes(out)


def _std_file_key(o: bytes, p: int, id0: bytes, r: int, n: int,
                  encrypt_metadata: bool = True,
                  user_pwd: bytes = b"") -> bytes:
    """Algorithm 2: file encryption key from the (empty) user password."""
    import hashlib

    pwd = (user_pwd + _PAD)[:32]
    h = hashlib.md5(pwd + o[:32]
                    + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


class _StdSecurity:
    """Decryption state for one document. ``ok`` is True only when the
    empty user password verifies against /U — otherwise the caller
    leaves the document metadata-only."""

    def __init__(self, enc: dict, id0: bytes, resolve):
        import hashlib

        if resolve(enc.get("Filter")) != "Standard":
            raise ValueError("PDF: non-standard security handler")
        self.v = int(resolve(enc.get("V")) or 0)
        self.r = int(resolve(enc.get("R")) or 2)
        if self.v not in (1, 2, 4) or self.r not in (2, 3, 4):
            raise ValueError(f"PDF: unsupported encryption V={self.v}")
        length = int(resolve(enc.get("Length")) or 40)
        self.n = max(5, min(16, length // 8))
        if self.r == 2:
            self.n = 5
        self.aes = False
        if self.v == 4:
            cf = resolve(enc.get("CF")) or {}
            stdcf = resolve(cf.get("StdCF")) if isinstance(cf, dict) else {}
            cfm = resolve(stdcf.get("CFM")) if isinstance(stdcf, dict) \
                else None
            self.aes = cfm == "AESV2"
            if cfm not in ("V2", "AESV2"):
                raise ValueError(f"PDF: unsupported crypt filter {cfm}")
        o = resolve(enc.get("O")) or b""
        u = resolve(enc.get("U")) or b""
        p = int(resolve(enc.get("P")) or -1)
        em = resolve(enc.get("EncryptMetadata"))
        em = True if em is None else bool(em)
        self.key = _std_file_key(o, p, id0, self.r, self.n, em)
        # verify the empty user password (Algorithms 4/5)
        if self.r == 2:
            self.ok = _rc4(self.key, _PAD) == u[:32]
        else:
            h = hashlib.md5(_PAD + id0).digest()
            x = _rc4(self.key, h)
            for i in range(1, 20):
                x = _rc4(bytes(b ^ i for b in self.key), x)
            self.ok = x[:16] == u[:16]

    def _obj_key(self, num: int, gen: int = 0) -> bytes:
        import hashlib

        h = hashlib.md5(self.key + num.to_bytes(3, "little")
                        + gen.to_bytes(2, "little")
                        + (b"sAlT" if self.aes else b"")).digest()
        return h[:min(self.n + 5, 16)]

    def decrypt_bytes(self, data: bytes, num: int, gen: int = 0) -> bytes:
        k = self._obj_key(num, gen)
        return _aes_cbc_decrypt(k, data) if self.aes else _rc4(k, data)

    def encrypt_bytes(self, data: bytes, num: int, gen: int = 0,
                      iv: bytes = b"\x00" * 16) -> bytes:
        k = self._obj_key(num, gen)
        return _aes_cbc_encrypt(k, data, iv) if self.aes \
            else _rc4(k, data)

    def decrypt_object(self, obj, num: int, gen: int = 0):
        """Strings (recursively) and stream payloads; numbers/names/refs
        pass through. ObjStm members must NOT come through here (the
        container stream was already decrypted)."""
        if isinstance(obj, tuple):
            d, raw = obj
            return (self._walk(d, num, gen), self.decrypt_bytes(raw, num, gen))
        return self._walk(obj, num, gen)

    def _walk(self, v, num: int, gen: int = 0):
        if isinstance(v, bytes):
            return self.decrypt_bytes(v, num, gen)
        if isinstance(v, dict):
            return {k: self._walk(x, num, gen) for k, x in v.items()}
        if isinstance(v, list):
            return [self._walk(x, num, gen) for x in v]
        return v


# --------------------------------------------------------------------------
# fonts: encodings, ToUnicode CMaps, widths
# --------------------------------------------------------------------------
#
# Real-world PDFs (Word/Chrome/LaTeX output) subset their fonts: show-string
# bytes are glyph codes whose meaning lives in the font dictionary, not in
# any fixed charset. Decode priority per ISO 32000 9.10.2:
#   1. /ToUnicode CMap (bfchar/bfrange) — authoritative when present;
#   2. simple-font /Encoding: a base encoding (WinAnsi/MacRoman/Standard)
#      patched by /Differences glyph names (Adobe Glyph List);
#   3. fallback: latin-1 byte identity (correct for unencoded ASCII text,
#      and the engine's pre-font-support behavior).
# Type0/CID fonts (/Subtype /Type0, /Encoding /Identity-H) read 2-byte
# big-endian codes; widths come from the descendant font's /W (default
# /DW 1000). Simple-font advances use /FirstChar + /Widths with
# /MissingWidth fallback; fonts with no width table keep the Courier
# 600-em metric (exact for the fixture writer, nominal otherwise).

#: Adobe Glyph List subset: every name used by the Standard/WinAnsi/
#: MacRoman base encodings plus the typographic set /Differences arrays
#: commonly reference. Latin-1 letters are generated from their Unicode
#: names (the AGL naming rule for that block) with the irregulars pinned
#: by hand; spot values are unit-tested.
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # Latin-1 punctuation / signs
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "section": "§", "dieresis": "¨", "copyright": "©",
    "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯",
    "degree": "°", "plusminus": "±", "twosuperior": "²",
    "threesuperior": "³", "acute": "´", "mu": "µ",
    "paragraph": "¶", "periodcentered": "·",
    "cedilla": "¸", "onesuperior": "¹",
    "ordmasculine": "º", "guillemotright": "»",
    "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "multiply": "×", "divide": "÷",
    # irregular Latin-1 letter names
    "AE": "Æ", "ae": "æ", "Eth": "Ð", "eth": "ð",
    "Thorn": "Þ", "thorn": "þ", "germandbls": "ß",
    "Oslash": "Ø", "oslash": "ø",
    # typographic set
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "fraction": "⁄",
    "florin": "ƒ", "fi": "ﬁ", "fl": "ﬂ",
    "dotlessi": "ı", "Lslash": "Ł", "lslash": "ł",
    "OE": "Œ", "oe": "œ", "Scaron": "Š",
    "scaron": "š", "Ydieresis": "Ÿ", "Zcaron": "Ž",
    "zcaron": "ž", "circumflex": "ˆ", "tilde": "˜",
    "caron": "ˇ", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "ogonek": "˛", "hungarumlaut": "˝",
    "Euro": "€", "trademark": "™", "minus": "−",
}


def _fill_agl_latin1() -> None:
    """Regular Latin-1 letter names: base letter + accent suffix
    (LATIN SMALL LETTER E WITH ACUTE → 'eacute')."""
    suffix = {"ACUTE": "acute", "GRAVE": "grave",
              "CIRCUMFLEX": "circumflex", "DIAERESIS": "dieresis",
              "TILDE": "tilde", "RING ABOVE": "ring", "CEDILLA": "cedilla"}
    import unicodedata

    for cp in range(0xC0, 0x100):
        ch = chr(cp)
        if ch in _AGL.values():
            continue
        try:
            uname = unicodedata.name(ch)
        except ValueError:
            continue
        m = re.match(r"LATIN (SMALL|CAPITAL) LETTER ([A-Z]) WITH (.+)", uname)
        if m and m.group(3) in suffix:
            letter = m.group(2)
            if m.group(1) == "SMALL":
                letter = letter.lower()
            _AGL.setdefault(letter + suffix[m.group(3)], ch)


_fill_agl_latin1()
# plain letters and digits name themselves
for _c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _AGL.setdefault(_c, _c)


def _glyph_to_char(name: str) -> str | None:
    if name in _AGL:
        return _AGL[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})(?:[0-9A-Fa-f]{4})*", name)
    if m:  # uniXXXX (first component of a multi-cp name is enough here)
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        cp = int(m.group(1), 16)
        return chr(cp) if cp <= 0x10FFFF else None
    return None


def _table_from_codec(codec: str) -> dict[int, str]:
    out = {}
    for c in range(0x20, 0x100):
        try:
            out[c] = bytes([c]).decode(codec)
        except UnicodeDecodeError:
            continue
    return out


#: WinAnsiEncoding ≈ cp1252 (the five cp1252 holes stay unmapped);
#: MacRomanEncoding ≈ mac-roman (PDF's table predates Apple's 0xDB → €
#: swap — irrelevant to the Differences/ToUnicode paths this feeds).
_WINANSI = _table_from_codec("cp1252")
_MACROMAN = _table_from_codec("mac_roman")

#: StandardEncoding: ASCII with the two quote substitutions plus the
#: Adobe upper region (ISO 32000 Annex D.2).
_STANDARD: dict[int, str] = {c: chr(c) for c in range(0x20, 0x7F)}
_STANDARD.update({
    0x27: "’", 0x60: "‘",
    0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
    0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
    0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
    0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ",
    0xB1: "–", 0xB2: "†", 0xB3: "‡", 0xB4: "·",
    0xB6: "¶", 0xB7: "•", 0xB8: "‚", 0xB9: "„",
    0xBA: "”", 0xBB: "»", 0xBC: "…", 0xBD: "‰",
    0xBF: "¿", 0xC1: "`", 0xC2: "´", 0xC3: "ˆ",
    0xC4: "˜", 0xC5: "¯", 0xC6: "˘", 0xC7: "˙",
    0xC8: "¨", 0xCA: "˚", 0xCB: "¸", 0xCD: "˝",
    0xCE: "˛", 0xCF: "ˇ", 0xD0: "—",
    0xE1: "Æ", 0xE3: "ª", 0xE8: "Ł", 0xE9: "Ø",
    0xEA: "Œ", 0xEB: "º", 0xF1: "æ", 0xF5: "ı",
    0xF8: "ł", 0xF9: "ø", 0xFA: "œ", 0xFB: "ß",
})

_BASE_ENCODINGS = {"WinAnsiEncoding": _WINANSI,
                   "MacRomanEncoding": _MACROMAN,
                   "StandardEncoding": _STANDARD,
                   # MacExpert is exotic; approximate with Standard
                   "MacExpertEncoding": _STANDARD}

_HEX_OR_BRACKET = re.compile(rb"<([0-9A-Fa-f]*)>|\[|\]")


def _parse_cmap_tounicode(data: bytes) -> tuple[dict[int, str], int]:
    """(code→text, code_bytes) from a /ToUnicode CMap stream. Handles
    bfchar, bfrange with scalar or array destinations, and derives the
    code byte width from the codespace ranges (default 1)."""
    mapping: dict[int, str] = {}
    code_bytes = 0
    for m in re.finditer(
            rb"begincodespacerange(.*?)endcodespacerange", data, re.S):
        for hx in re.finditer(rb"<([0-9A-Fa-f]+)>", m.group(1)):
            code_bytes = max(code_bytes, len(hx.group(1)) // 2)

    def utf16(hx: bytes) -> str:
        b = bytes.fromhex(hx.decode())
        try:
            return b.decode("utf-16-be")
        except UnicodeDecodeError:
            return "".join(chr(int(hx[i:i + 4], 16))
                           for i in range(0, len(hx) - 3, 4))

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = re.findall(rb"<([0-9A-Fa-f]+)>", m.group(1))
        for i in range(0, len(toks) - 1, 2):
            mapping[int(toks[i], 16)] = utf16(toks[i + 1])
            code_bytes = max(code_bytes, len(toks[i]) // 2)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks = list(_HEX_OR_BRACKET.finditer(m.group(1)))
        i = 0
        while i + 2 < len(toks):  # an entry needs <lo> <hi> dst
            lo_m, hi_m, dst = toks[i], toks[i + 1], toks[i + 2]
            if lo_m.group(1) is None or hi_m.group(1) is None:
                i += 1
                continue
            lo, hi = int(lo_m.group(1), 16), int(hi_m.group(1), 16)
            code_bytes = max(code_bytes, len(lo_m.group(1)) // 2)
            if dst.group(0) == b"[":  # array destination, one per code
                j = i + 3
                code = lo
                while j < len(toks) and toks[j].group(0) != b"]":
                    if toks[j].group(1) is not None and code <= hi:
                        mapping[code] = utf16(toks[j].group(1))
                        code += 1
                    j += 1
                i = j + 1
            elif dst.group(1) is not None:
                # scalar destination: increment the last UTF-16 unit
                base = bytes.fromhex(dst.group(1).decode())
                for k in range(min(hi - lo, 65535) + 1):
                    if len(base) >= 2:
                        unit = (int.from_bytes(base[-2:], "big") + k) & 0xFFFF
                        s = utf16((base[:-2] + unit.to_bytes(2, "big")).hex()
                                  .encode())
                    else:
                        s = chr((int.from_bytes(base, "big") + k) & 0x10FFFF)
                    mapping[lo + k] = s
                i += 3
            else:
                i += 1
    return mapping, max(code_bytes, 1)


class UnsupportedCMapError(Exception):
    """A Type0 font names a predefined CMap whose code→Unicode mapping
    this engine does not carry (legacy multi-byte families: GBK-EUC-H,
    90ms-RKSJ-H, the UTF16 families, embedded CMap streams) and the font
    has no /ToUnicode to decode through. Deliberately NOT a ValueError:
    the content interpreter's per-operator guard swallows ValueError, and
    this condition must escape to the document level so the record lands
    in the error column (observable degradation) instead of silently
    emitting mojibake — the round-5 VERDICT finding. Converted to the
    standard per-record ValueError at the pdf_extract_words boundary."""


class FontInfo(NamedTuple):
    code_bytes: int                    # 1 (simple) or 2 (Type0/CID)
    to_unicode: dict[int, str] | None  # priority-1 decode map
    enc_map: dict[int, str] | None     # priority-2 simple-font encoding
    widths: dict[int, float]           # code → advance, glyph units /1000
    default_width: float               # glyph units /1000
    bad_cmap: str | None = None        # unsupported predefined CMap name

    def decode(self, code: int) -> str:
        if self.to_unicode is not None and code in self.to_unicode:
            return self.to_unicode[code]
        if self.enc_map is not None and code in self.enc_map:
            return self.enc_map[code]
        if self.bad_cmap is not None:
            raise UnsupportedCMapError(self.bad_cmap)
        if self.code_bytes == 1:
            return chr(code)  # latin-1 identity — pre-font behavior
        if 0xD800 <= code <= 0xDFFF:
            return "�"  # lone UTF-16 surrogate half is not a scalar
        return chr(code) if code <= 0x10FFFF else "�"

    def width(self, code: int) -> float:
        return self.widths.get(code, self.default_width)

    def iter_codes(self, raw: bytes):
        if self.code_bytes == 1:
            yield from raw
        else:
            for i in range(0, len(raw) - 1, 2):
                yield (raw[i] << 8) | raw[i + 1]


#: unencoded fallback: latin-1 identity at the Courier metric
_DEFAULT_FONT = FontInfo(1, None, None, {}, _COURIER_EM * 1000.0)


def _parse_cid_widths(doc: PdfDocument, warr) -> dict[int, float]:
    """CIDFont /W array: ``[c [w1 w2 …] cFirst cLast w …]`` → code→width."""
    out: dict[int, float] = {}
    warr = doc.resolve(warr)
    if not isinstance(warr, list):
        return out
    i = 0
    while i < len(warr):
        first = doc.resolve(warr[i])
        if not isinstance(first, (int, float)) or i + 1 >= len(warr):
            break
        second = doc.resolve(warr[i + 1])
        if isinstance(second, list):
            for k, w in enumerate(second):
                w = doc.resolve(w)
                if isinstance(w, (int, float)):
                    out[int(first) + k] = float(w)
            i += 2
        elif isinstance(second, (int, float)) and i + 2 < len(warr):
            w = doc.resolve(warr[i + 2])
            if isinstance(w, (int, float)):
                span = int(second) - int(first)
                if 0 <= span <= 65535:
                    for c in range(int(first), int(second) + 1):
                        out[c] = float(w)
            i += 3
        else:
            break
    return out


def _build_font(doc: PdfDocument, fdict) -> FontInfo:
    """FontInfo from a /Font dictionary (simple or Type0). Never raises —
    malformed font objects degrade to the default latin-1/Courier font."""
    fdict = doc.resolve(fdict)
    if isinstance(fdict, tuple):  # stream where a dict belongs
        fdict = fdict[0]
    if not isinstance(fdict, dict):
        return _DEFAULT_FONT
    try:
        to_uni = None
        code_bytes = 1
        tu = doc.resolve(fdict.get("ToUnicode"))
        if isinstance(tu, tuple):
            try:
                to_uni, code_bytes = _parse_cmap_tounicode(
                    _decode_stream(tu[0], tu[1], doc.resolve))
            except (ValueError, zlib.error):
                to_uni = None

        if fdict.get("Subtype") == "Type0":
            desc = doc.resolve(fdict.get("DescendantFonts"))
            d0 = doc.resolve(desc[0]) if isinstance(desc, list) and desc \
                else None
            widths: dict[int, float] = {}
            default_w = 1000.0
            if isinstance(d0, dict):
                dw = doc.resolve(d0.get("DW"))
                if isinstance(dw, (int, float)):
                    default_w = float(dw)
                widths = _parse_cid_widths(doc, d0.get("W"))
            # /Encoding dispositions (ISO 32000 9.7.5):
            # * Identity-H/V — code == CID, 2-byte decode (the common
            #   real case; /ToUnicode still takes priority when present);
            # * the Adobe UniXX-UCS2-H/V families — the 2-byte code IS
            #   the UCS-2 code point, so chr(code) decodes it exactly
            #   (surrogate halves guard to U+FFFD);
            # * any other named predefined CMap (GBK-EUC-H, 90ms-RKSJ-H,
            #   UTF16 families, …) or an embedded CMap stream — the code
            #   mapping is unknown here; WITHOUT a /ToUnicode the font is
            #   marked bad_cmap and the first show-string through it
            #   raises UnsupportedCMapError → per-record error column,
            #   never silent mojibake (round-5 VERDICT #1).
            enc = doc.resolve(fdict.get("Encoding"))
            bad_cmap = None
            if to_uni is None:
                if isinstance(enc, str):
                    supported = (enc in ("Identity-H", "Identity-V")
                                 or enc.endswith(("-UCS2-H", "-UCS2-V")))
                    if not supported:
                        bad_cmap = enc
                elif isinstance(enc, tuple):
                    bad_cmap = "<embedded CMap stream>"
            return FontInfo(max(code_bytes, 2), to_uni, None, widths,
                            default_w, bad_cmap=bad_cmap)

        # simple font
        enc_map: dict[int, str] | None = None
        enc = doc.resolve(fdict.get("Encoding"))
        if isinstance(enc, str):
            base = _BASE_ENCODINGS.get(enc)
            enc_map = dict(base) if base else None
        elif isinstance(enc, dict):
            base_name = doc.resolve(enc.get("BaseEncoding"))
            base = _BASE_ENCODINGS.get(base_name) if isinstance(
                base_name, str) else None
            enc_map = dict(base) if base else dict(_STANDARD)
            diffs = doc.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    item = doc.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, str):
                        ch = _glyph_to_char(item)
                        if ch is not None:
                            enc_map[code] = ch
                        else:
                            enc_map.pop(code, None)
                        code += 1

        widths = {}
        default_w = _COURIER_EM * 1000.0
        fc = doc.resolve(fdict.get("FirstChar"))
        warr = doc.resolve(fdict.get("Widths"))
        if isinstance(fc, (int, float)) and isinstance(warr, list):
            fdesc = doc.resolve(fdict.get("FontDescriptor"))
            if isinstance(fdesc, dict):
                mw = doc.resolve(fdesc.get("MissingWidth"))
                if isinstance(mw, (int, float)):
                    default_w = float(mw)
            for k, w in enumerate(warr):
                w = doc.resolve(w)
                if isinstance(w, (int, float)):
                    widths[int(fc) + k] = float(w)
        return FontInfo(1, to_uni, enc_map, widths, default_w)
    except Exception:
        return _DEFAULT_FONT


def _page_fonts(doc: PdfDocument, page: dict) -> dict[str, FontInfo]:
    """Resource-name → FontInfo for one page (inherited /Resources)."""
    res = doc.resolve(page.get("Resources") or page.get("_Resources"))
    if isinstance(res, tuple):
        res = res[0]
    if not isinstance(res, dict):
        return {}
    fonts = doc.resolve(res.get("Font"))
    if not isinstance(fonts, dict):
        return {}
    return {name: _build_font(doc, f) for name, f in fonts.items()}


# --------------------------------------------------------------------------
# content-stream text extraction
# --------------------------------------------------------------------------

def _content_tokens(data: bytes):
    """Yield ('val', value) and ('op', name) tokens from a content stream.
    Inline images (BI..EI) are skipped wholesale."""
    pos, n = 0, len(data)
    while True:
        pos = _skip_ws(data, pos)
        if pos >= n:
            return
        c = data[pos]
        if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or \
                c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:
            try:
                val, pos = _parse_value(data, pos)
            except ValueError:
                pos += 1
                continue
            yield "val", val
        elif c == 0x5D or c == 0x3E or c == 0x29 or c == 0x7B or c == 0x7D:
            pos += 1  # stray delimiter — content is best-effort
        else:
            start = pos
            while pos < n and data[pos] not in _WS and data[pos] not in _DELIM:
                pos += 1
            op = data[start:pos].decode("latin-1")
            if op == "BI":
                end = data.find(b"EI", pos)
                pos = end + 2 if end >= 0 else n
            elif op:
                yield "op", op
            else:
                pos += 1


def _mat_mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _page_content(doc: PdfDocument, page: dict) -> bytes:
    if doc.encrypted and doc._enc is None:
        # encrypted but not decryptable (true user password / unsupported
        # handler): metadata-only — never feed ciphertext to the
        # interpreter as if it were content
        return b""
    contents = doc.resolve(page.get("Contents"))
    parts = []
    items = contents if isinstance(contents, list) else [contents]
    for item in items:
        item = doc.resolve(item)
        if isinstance(item, tuple):
            d, raw = item
            try:
                parts.append(_decode_stream(d, raw, doc.resolve))
            except (ValueError, zlib.error):
                continue
    return b"\n".join(parts)


def extract_page_words(doc: PdfDocument, page: dict) -> list[dict]:
    """Interpret the page's content stream(s) → line dicts
    ``{"y": baseline_pt, "words": [{"text","x","y","w","h"}]}`` in content
    order. Coordinates are PDF user space (y-up, points). Show-strings
    decode through the active font (ToUnicode CMap → /Encoding +
    /Differences → latin-1 fallback; 2-byte codes for Type0/CID) and
    advance by the font's /Widths (Courier 600 em when absent)."""
    data = _page_content(doc, page)
    fonts = _page_fonts(doc, page)
    lines: list[dict] = []
    cur_words: list[dict] = []
    cur_word_chars: list[str] = []
    word_x = 0.0
    state = {"size": 0.0, "tc": 0.0, "tw": 0.0, "tz": 1.0, "tl": 0.0,
             "font": _DEFAULT_FONT}
    tm = lm = _ID
    last_y = None
    operands: list = []

    def flush_word():
        nonlocal cur_word_chars, word_x
        if cur_word_chars:
            txt = "".join(cur_word_chars)
            cur_words.append({
                "text": txt, "x": word_x, "y": tm[5],
                "w": tm[4] - word_x, "h": state["size"]})
            cur_word_chars = []

    def flush_line():
        nonlocal cur_words, last_y
        flush_word()
        if cur_words:
            lines.append({"y": cur_words[0]["y"], "words": cur_words})
            cur_words = []

    def show(raw: bytes):
        nonlocal tm, word_x, last_y
        if last_y is not None and abs(tm[5] - last_y) > 1e-6:
            flush_line()
        last_y = tm[5]
        font = state["font"]
        for code in font.iter_codes(raw):
            txt = font.decode(code)
            # word spacing applies to single-byte code 32 only (9.3.3)
            spc = font.code_bytes == 1 and code == 32
            adv = (font.width(code) / 1000.0 * state["size"] + state["tc"]
                   + (state["tw"] if spc else 0.0)) * state["tz"]
            if txt and not txt.strip():  # decoded whitespace splits words
                flush_word()
                tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)
                continue
            if txt:
                if not cur_word_chars:
                    word_x = tm[4]
                cur_word_chars.append(txt)
            tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)

    def text_move(tx: float, ty: float):
        nonlocal tm, lm
        flush_word()
        lm = _mat_mul((1, 0, 0, 1, tx, ty), lm)
        tm = lm

    for kind, tok in _content_tokens(data):
        if kind == "val":
            operands.append(tok)
            continue
        op = tok
        try:
            if op == "BT":
                tm = lm = _ID
                last_y = None
            elif op == "ET":
                flush_line()
            elif op == "Tf" and len(operands) >= 2:
                state["size"] = float(operands[-1])
                if isinstance(operands[-2], str):
                    state["font"] = fonts.get(operands[-2], _DEFAULT_FONT)
            elif op == "TL" and operands:
                state["tl"] = float(operands[-1])
            elif op == "Tc" and operands:
                state["tc"] = float(operands[-1])
            elif op == "Tw" and operands:
                state["tw"] = float(operands[-1])
            elif op == "Tz" and operands:
                state["tz"] = float(operands[-1]) / 100.0
            elif op == "Td" and len(operands) >= 2:
                text_move(float(operands[-2]), float(operands[-1]))
            elif op == "TD" and len(operands) >= 2:
                state["tl"] = -float(operands[-1])
                text_move(float(operands[-2]), float(operands[-1]))
            elif op == "Tm" and len(operands) >= 6:
                flush_word()
                tm = lm = tuple(float(v) for v in operands[-6:])
            elif op == "T*":
                text_move(0.0, -state["tl"])
            elif op == "Tj" and operands and isinstance(operands[-1], bytes):
                show(operands[-1])
            elif op == "'" and operands and isinstance(operands[-1], bytes):
                text_move(0.0, -state["tl"])
                show(operands[-1])
            elif op == '"' and len(operands) >= 3:
                state["tw"] = float(operands[-3])
                state["tc"] = float(operands[-2])
                text_move(0.0, -state["tl"])
                if isinstance(operands[-1], bytes):
                    show(operands[-1])
            elif op == "TJ" and operands and isinstance(operands[-1], list):
                for el in operands[-1]:
                    if isinstance(el, bytes):
                        show(el)
                    elif isinstance(el, (int, float)):
                        tm = _mat_mul(
                            (1, 0, 0, 1,
                             -float(el) / 1000.0 * state["size"]
                             * state["tz"], 0), tm)
        except (TypeError, ValueError):
            pass
        operands = []
    flush_line()
    return lines


def pdf_extract_words(blob: bytes) -> list[dict]:
    """All pages → ``{"width_pt","height_pt","rotate","lines":[...]}``
    (lines as in :func:`extract_page_words`). Empty pages are kept here;
    the D8 empty-page filter applies downstream."""
    try:
        doc = PdfDocument(blob)
        out = []
        for p in doc.pages():
            w, h = _box_dims(p["_MediaBox"], p["_Rotate"])
            out.append({"width_pt": w, "height_pt": h,
                        "rotate": p["_Rotate"],
                        "lines": extract_page_words(doc, p)})
        return out
    except ValueError:
        raise
    except UnsupportedCMapError as e:
        # observable degradation: the record errors instead of emitting
        # wrong bytes for a CMap this engine can't decode
        raise ValueError(f"PDF: unsupported predefined CMap {e}") from e
    except Exception as e:  # hostile input: any parser failure → ValueError
        raise ValueError(f"PDF: malformed structure ({e!r})") from e


def pdf_parse_pages(blob: bytes) -> list[list[list[str]]]:
    """pages→lines→words token shape — the same contract as
    frontend.parse_html, so PDFs route through the identical downstream
    pipeline (empty pages dropped, D8)."""
    out = []
    for page in pdf_extract_words(blob):
        lines = [[w["text"] for w in ln["words"]] for ln in page["lines"]]
        lines = [ln for ln in lines if ln]
        if lines:
            out.append(lines)
    return out


def pdf_extract_text(blob: bytes) -> str:
    """Reading-order plain text: words joined by spaces, lines by newlines,
    pages by form-feed — deterministic, byte-stable per input."""
    pages = pdf_parse_pages(blob)
    return "\f".join(
        "\n".join(" ".join(toks) for toks in page) for page in pages)


# --------------------------------------------------------------------------
# fixture writer
# --------------------------------------------------------------------------

def _esc_pdf_bytes(b: bytes) -> bytes:
    return b.replace(b"\\", rb"\\").replace(b"(", rb"\(") \
        .replace(b")", rb"\)")


def _content_for(lines: list[str], height: float, size: float = 12.0,
                 margin: float = 72.0, leading: float = 14.0,
                 show_token=None) -> bytes:
    """Content stream for ``lines``; ``show_token(line) -> bytes`` emits
    the show-string token (default: escaped literal, latin-1 bytes)."""
    if show_token is None:
        def show_token(line: str) -> bytes:
            return b"(" + _esc_pdf_bytes(line.encode("latin-1")) + b") Tj"
    parts = [(f"BT /F1 {size:g} Tf {leading:g} TL "
              f"{margin:g} {height - margin:g} Td").encode("latin-1")]
    for i, line in enumerate(lines):
        if i:
            parts.append(b"T*")
        parts.append(show_token(line))
    parts.append(b"ET")
    return b" ".join(parts)


def _write_cmap(codes: dict[str, int], two_byte: bool) -> bytes:
    """Minimal /ToUnicode CMap stream covering ``codes`` (char → code)."""
    width = 4 if two_byte else 2
    lo, hi = ("<0000>", "<FFFF>") if two_byte else ("<20>", "<FE>")
    entries = "\n".join(
        f"<{code:0{width}X}> <{''.join(f'{ord(u):04X}' for u in ch)}>"
        for ch, code in sorted(codes.items(), key=lambda kv: kv[1]))
    return (f"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /ATTPFixture def
/CMapType 2 def
1 begincodespacerange
{lo} {hi}
endcodespacerange
{len(codes)} beginbfchar
{entries}
endbfchar
endcmap
CMapName currentdict /CMap defineresource pop
end
end""").encode("latin-1")


def _font_dialect(font: str, pages: list[dict], extra_start: int):
    """(font_body, extra_objects, show_token) for one writer font dialect.

    * ``courier`` — bare /Type1 /Courier, latin-1 literals (the original
      writer; exercises the unencoded fallback path);
    * ``winansi`` — /BaseEncoding /WinAnsiEncoding + /Differences
      remapping code 232 to /eacute + /FirstChar //Widths + a
      /MissingWidth descriptor (exercises base-encoding, Differences
      glyph-name lookup, and the /Widths advance path);
    * ``tounicode`` — codes 0xA1.. assigned per distinct char with a
      /ToUnicode CMap (decode is ONLY possible through the CMap);
    * ``cid`` — /Type0 /Identity-H with 2-byte codes 0x0101.., a
      descendant CIDFont carrying /DW + /W, and a 2-byte ToUnicode CMap
      (hex show-strings; exercises the whole CID path)."""
    if font == "courier":
        return (b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
                {}, None)

    if font == "winansi":
        widths = " ".join("600" for _ in range(32, 127))
        body = (
            "<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            " /Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding"
            " /Differences [232 /eacute] >>"
            f" /FirstChar 32 /LastChar 126 /Widths [{widths}]"
            " /FontDescriptor << /Type /FontDescriptor /FontName /Courier"
            " /MissingWidth 600 >> >>").encode()

        def tok(line: str) -> bytes:
            out = bytearray()
            for ch in line:
                if ch == "é":
                    out.append(232)  # via the /Differences entry
                else:
                    out += ch.encode("cp1252")
            return b"(" + _esc_pdf_bytes(bytes(out)) + b") Tj"

        return body, {}, tok

    # code assignment for the CMap dialects: distinct chars in first-
    # appearance order across the whole document (deterministic)
    charset: dict[str, int] = {}
    for pg in pages:
        for line in pg.get("lines", []):
            for ch in line:
                if ch != " " and ch not in charset:
                    charset[ch] = 0
    if font == "tounicode":
        if len(charset) > 0xFE - 0xA1:
            raise ValueError("PDF fixture: too many distinct chars "
                             "for the tounicode dialect")
        codes = {ch: 0xA1 + i for i, ch in enumerate(charset)}
        codes[" "] = 0x20
        cmap = _write_cmap(codes, two_byte=False)
        body = (f"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
                f" /ToUnicode {extra_start} 0 R >>").encode()
        extra = {extra_start: (
            f"<< /Length {len(cmap)} >>\n".encode()
            + b"stream\n" + cmap + b"\nendstream")}

        def tok(line: str, _c=codes) -> bytes:
            return (b"(" + _esc_pdf_bytes(bytes(_c[ch] for ch in line))
                    + b") Tj")

        return body, extra, tok

    if font == "cid":
        codes = {ch: 0x0101 + i for i, ch in enumerate(charset)}
        codes[" "] = 0x0100  # below the charset range — never collides
        cmap = _write_cmap(codes, two_byte=True)
        desc_num, cmap_num = extra_start, extra_start + 1
        warr = " ".join("600" for _ in range(len(codes)))
        body = (f"<< /Type /Font /Subtype /Type0 /BaseFont /Courier"
                f" /Encoding /Identity-H"
                f" /DescendantFonts [{desc_num} 0 R]"
                f" /ToUnicode {cmap_num} 0 R >>").encode()
        extra = {
            desc_num: (
                "<< /Type /Font /Subtype /CIDFontType0 /BaseFont /Courier"
                " /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
                " /Supplement 0 >>"
                f" /DW 600 /W [257 [{warr}]] >>").encode(),
            cmap_num: (f"<< /Length {len(cmap)} >>\n".encode()
                       + b"stream\n" + cmap + b"\nendstream"),
        }

        def tok(line: str, _c=codes) -> bytes:
            hx = "".join(f"{_c[ch]:04X}" for ch in line)
            return f"<{hx}> Tj".encode()

        return body, extra, tok

    raise ValueError(f"PDF fixture: unknown font dialect {font!r}")


def _make_encryptor(mode: str, seed: bytes):
    """(sec, enc_dict_body, id0) for the writer's ``encrypt`` dialects:
    ``rc4`` = V2/R3 128-bit RC4, ``aes`` = V4/R4 /AESV2. Owner password
    'owner', EMPTY user password (the owner-locked crawl case); /O, /U
    computed per Algorithms 3/5 so any conforming reader validates."""
    import hashlib

    id0 = hashlib.md5(b"attp-pdf-id" + seed).digest()
    if mode == "rc4":
        v, r, length = 2, 3, 128
        cf = b""
    elif mode == "aes":
        v, r, length = 4, 4, 128
        cf = (b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
              b" /Length 16 >> >> /StmF /StdCF /StrF /StdCF")
    else:
        raise ValueError(f"PDF fixture: unknown encrypt mode {mode!r}")
    n = length // 8
    p = -4  # all permissions denied except read — the owner-locked shape
    # Algorithm 3: /O from the owner password
    h = hashlib.md5((b"owner" + _PAD)[:32]).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    ko = h[:n]
    o = _rc4(ko, _PAD)
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in ko), o)
    key = _std_file_key(o, p, id0, r, n)
    # Algorithm 5: /U for the empty user password
    x = hashlib.md5(_PAD + id0).digest()
    x = _rc4(key, x)
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    u = x + b"\x00" * 16
    body = (f"<< /Filter /Standard /V {v} /R {r} /Length {length}"
            f" /P {p}".encode()
            + cf
            + b" /O <" + o.hex().encode() + b">"
            + b" /U <" + u.hex().encode() + b"> >>")
    sec = _StdSecurity(
        {"Filter": "Standard", "V": v, "R": r, "Length": length,
         "P": p, "O": o, "U": u,
         **({"CF": {"StdCF": {"CFM": "AESV2"}}} if mode == "aes" else {})},
        id0, lambda x: x)
    if not sec.ok:  # self-check: the reader must accept what we wrote
        raise ValueError("PDF fixture: encryptor self-check failed")
    return sec, body, id0


def _det_iv(num: int, id0: bytes) -> bytes:
    import hashlib

    return hashlib.md5(b"iv" + num.to_bytes(4, "little") + id0).digest()


def _encrypt_serialized(body: bytes, num: int, sec: "_StdSecurity",
                        id0: bytes) -> bytes:
    """Encrypt one serialized object body: stream payloads wholesale
    (rewriting /Length), literal strings in dicts as encrypted hex
    strings. Safe on writer output only (no escapes, first 'stream' is
    the real keyword)."""
    m = re.search(rb"stream\n", body)
    if m:
        head, payload = body[:m.start()], body[m.end():]
        if payload.endswith(b"\nendstream"):
            payload = payload[:-10]
        enc = sec.encrypt_bytes(payload, num, iv=_det_iv(num, id0))
        head = re.sub(rb"/Length \d+", b"/Length %d" % len(enc), head,
                      count=1)
        return head + b"stream\n" + enc + b"\nendstream"

    def repl(sm: "re.Match[bytes]") -> bytes:
        enc = sec.encrypt_bytes(sm.group(1), num, iv=_det_iv(num, id0))
        return b"<" + enc.hex().encode() + b">"

    return re.sub(rb"\(([^()\\]*)\)", repl, body)


def write_pdf(pages: list[dict], *, compress: bool = False,
              xref_stream: bool = False, predictor: bool = False,
              objstm: bool = False, encrypted_flag: bool = False,
              font: str = "courier", encrypt: str | None = None,
              version: str = "1.4") -> bytes:
    """Spec-valid PDF fixture writer. ``pages``: dicts with ``width``/
    ``height`` (points), optional ``rotate`` and ``lines`` (list[str],
    Courier 12pt). Structural dialects: classic xref (default),
    ``xref_stream`` (PDF 1.5 /Type /XRef), ``predictor`` (PNG Up on the
    xref stream), ``objstm`` (page dicts packed in a /Type /ObjStm).
    Font dialects (``font``): ``courier`` (unencoded latin-1 literals),
    ``winansi`` (/BaseEncoding + /Differences + /Widths), ``tounicode``
    (opaque codes + /ToUnicode CMap), ``cid`` (/Type0 /Identity-H,
    2-byte hex show-strings) — see :func:`_font_dialect`. ``compress``
    flate-compresses content streams. ``encrypt`` applies the standard
    security handler for real (``rc4`` = V2/R3 128-bit, ``aes`` =
    V4/R4 AESV2; owner password 'owner', empty user password).
    ``encrypted_flag`` merely plants a dangling /Encrypt in the trailer
    (flag-only; nothing is actually encrypted)."""
    if (predictor or objstm) and not xref_stream:
        xref_stream = True
    if xref_stream and version == "1.4":
        version = "1.5"
    objects: dict[int, bytes] = {}  # num -> serialized body (no obj wrapper)
    n_pages = len(pages)
    # numbering: 1 catalog, 2 pages-root, 3 font, 4.. page/content pairs,
    # then any font-dialect extras (CMap streams, descendant fonts)
    kid_refs = " ".join(f"{4 + 2 * i} 0 R" for i in range(n_pages))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (f"<< /Type /Pages /Count {n_pages} "
                  f"/Kids [{kid_refs}] >>").encode()
    font_body, font_extra, show_token = _font_dialect(
        font, pages, 4 + 2 * n_pages)
    objects[3] = font_body
    objects.update(font_extra)
    for i, pg in enumerate(pages):
        w = float(pg.get("width", 612))
        h = float(pg.get("height", 792))
        rot = int(pg.get("rotate", 0))
        pnum, cnum = 4 + 2 * i, 5 + 2 * i
        rotate = f" /Rotate {rot}" if rot else ""
        objects[pnum] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w:g} {h:g}]"
            f"{rotate} /Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {cnum} 0 R >>").encode()
        content = _content_for(list(pg.get("lines", [])), h,
                               show_token=show_token)
        if compress:
            comp = zlib.compress(content)
            objects[cnum] = (
                f"<< /Length {len(comp)} /Filter /FlateDecode >>\n"
                .encode() + b"stream\n" + comp + b"\nendstream")
        else:
            objects[cnum] = (
                f"<< /Length {len(content)} >>\n".encode()
                + b"stream\n" + content + b"\nendstream")

    sec = None
    id0 = b""
    enc_body = b""
    if encrypt:
        seed = b"".join(objects[n] for n in sorted(objects))
        sec, enc_body, id0 = _make_encryptor(encrypt, seed)

    out = bytearray(f"%PDF-{version}\n".encode())
    out += b"%\xe2\xe3\xcf\xd3\n"  # binary-marker comment
    offsets: dict[int, int] = {}

    in_objstm: set[int] = set()
    objstm_num = None
    if objstm:
        # non-stream objects go into the ObjStm (streams are not allowed)
        in_objstm = {n for n, body in objects.items()
                     if b"stream" not in body}
        objstm_num = max(objects) + 1

    for num in sorted(objects):
        if num in in_objstm:
            continue
        offsets[num] = len(out)
        body = objects[num]
        if sec is not None:
            body = _encrypt_serialized(body, num, sec, id0)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"

    objstm_index: dict[int, int] = {}
    if objstm:
        members = sorted(in_objstm)
        bodies = [objects[n] for n in members]
        offs, acc = [], 0
        for b in bodies:
            offs.append(acc)
            acc += len(b) + 1
        header = " ".join(f"{n} {o}" for n, o in zip(members, offs))
        payload = (header + "\n").encode() + b"\n".join(bodies) + b"\n"
        first = len(header) + 1
        comp = zlib.compress(payload)
        if sec is not None:  # container encrypted; members stay plain
            comp = sec.encrypt_bytes(comp, objstm_num,
                                     iv=_det_iv(objstm_num, id0))
        offsets[objstm_num] = len(out)
        out += (f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(members)} "
                f"/First {first} /Length {len(comp)} "
                f"/Filter /FlateDecode >>\nstream\n").encode()
        out += comp + b"\nendstream\nendobj\n"
        objstm_index = {n: i for i, n in enumerate(members)}

    enc_num = None
    if sec is not None:
        # the /Encrypt dict itself is never encrypted nor packed
        enc_num = (objstm_num or max(objects)) + 1
        offsets[enc_num] = len(out)
        out += f"{enc_num} 0 obj\n".encode() + enc_body + b"\nendobj\n"
        enc = (f" /Encrypt {enc_num} 0 R"
               f" /ID [<{id0.hex()}> <{id0.hex()}>]").encode()
    else:
        enc = b" /Encrypt 99 0 R" if encrypted_flag else b""
    if not xref_stream:
        xref_off = len(out)
        maxnum = max(offsets)
        out += f"xref\n0 {maxnum + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for num in range(1, maxnum + 1):
            out += f"{offsets.get(num, 0):010d} 00000 n \n".encode()
        out += (b"trailer\n<< /Size " + str(maxnum + 1).encode()
                + b" /Root 1 0 R" + enc + b" >>\n")
        out += f"startxref\n{xref_off}\n%%EOF\n".encode()
        return bytes(out)

    # xref stream dialect (the xref stream itself is never encrypted)
    xref_num = (enc_num or objstm_num or max(objects)) + 1
    xref_off = len(out)
    offsets[xref_num] = xref_off
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += bytes([0]) + (0).to_bytes(4, "big") \
                + (65535).to_bytes(2, "big")
        elif num in objstm_index:
            rows += bytes([2]) + objstm_num.to_bytes(4, "big") \
                + objstm_index[num].to_bytes(2, "big")
        else:
            rows += bytes([1]) + offsets[num].to_bytes(4, "big") \
                + (0).to_bytes(2, "big")
    rec = 7
    parms = b""
    if predictor:
        filtered = bytearray()
        prev = bytes(rec)
        for r in range(size):
            row = bytes(rows[r * rec:(r + 1) * rec])
            filtered += bytes([2]) + bytes(
                (row[i] - prev[i]) & 0xFF for i in range(rec))
            prev = row
        payload = zlib.compress(bytes(filtered))
        parms = f" /DecodeParms << /Predictor 12 /Columns {rec} >>".encode()
    else:
        payload = zlib.compress(bytes(rows))
    out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} "
            f"/W [1 4 2] /Root 1 0 R /Filter /FlateDecode"
            ).encode() + parms + enc \
        + f" /Length {len(payload)} >>\nstream\n".encode()
    out += payload + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_off}\n%%EOF\n".encode()
    return bytes(out)
