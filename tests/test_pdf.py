"""PDF front door (functions/pdf.py): structure parse across all writer
dialects, page-tree inheritance, content-stream interpretation, sniff
integration, frontend dispatch, and hostile-input behavior."""

from __future__ import annotations

import pytest

from amazon_textract_transformer_pipeline_spark.functions import codecs, pdf

PAGES = [
    {"width": 612, "height": 792, "lines": ["Hello world one",
                                            "second line here"]},
    {"width": 500, "height": 400, "rotate": 90, "lines": ["rotated page"]},
    {"width": 300, "height": 300, "lines": []},  # empty page
]
WANT_TEXT = "Hello world one\nsecond line here\frotated page"

DIALECTS = [
    {},
    {"compress": True},
    {"xref_stream": True},
    {"xref_stream": True, "predictor": True},
    {"objstm": True},
    {"objstm": True, "predictor": True, "compress": True},
]


@pytest.mark.parametrize("kw", DIALECTS,
                         ids=["classic", "flate", "xrefstm", "pred",
                              "objstm", "objstm-pred-flate"])
def test_roundtrip_every_dialect(kw):
    blob = pdf.write_pdf(PAGES, **kw)
    m = pdf.pdf_meta(blob)
    assert m["n_pages"] == 3
    assert not m["encrypted"]
    assert (m["pages"][0]["width_pt"], m["pages"][0]["height_pt"]) == \
        (612.0, 792.0)
    # /Rotate 90 swaps display dims
    assert (m["pages"][1]["width_pt"], m["pages"][1]["height_pt"]) == \
        (400.0, 500.0)
    assert m["pages"][1]["rotate"] == 90
    assert pdf.pdf_extract_text(blob) == WANT_TEXT


def test_version_and_dialect_bump():
    assert pdf.pdf_meta(pdf.write_pdf(PAGES))["version"] == "1.4"
    assert pdf.pdf_meta(
        pdf.write_pdf(PAGES, xref_stream=True))["version"] == "1.5"


def test_encrypted_flag_both_trailer_forms():
    for kw in ({}, {"xref_stream": True}):
        blob = pdf.write_pdf(PAGES[:1], encrypted_flag=True, **kw)
        assert pdf.pdf_meta(blob)["encrypted"] is True


def test_broken_xref_scan_fallback():
    blob = pdf.write_pdf(PAGES)
    bad = blob.replace(b"startxref", b"sturtxref")
    m = pdf.pdf_meta(bad)
    assert m["n_pages"] == 3
    assert pdf.pdf_extract_text(bad) == WANT_TEXT


ACCENT_PAGES = [
    {"width": 612, "height": 792, "lines": ["Héllo wörld café naïve",
                                            "second liné ø å ñ Æ ß"]},
    {"width": 500, "height": 400, "rotate": 90, "lines": ["rotated pagé"]},
]
ACCENT_TEXT = "Héllo wörld café naïve\nsecond liné ø å ñ Æ ß\frotated pagé"


@pytest.mark.parametrize("font", ["courier", "winansi", "tounicode", "cid"])
@pytest.mark.parametrize("kw", [{}, {"objstm": True}],
                         ids=["classic", "objstm"])
def test_font_dialects_decode_accented_text(font, kw):
    """Every font dialect extracts byte-identical accented text — the
    winansi form only via /Differences + WinAnsi, the tounicode form
    only via its CMap, the cid form only via 2-byte Identity-H codes."""
    blob = pdf.write_pdf(ACCENT_PAGES, font=font, **kw)
    assert pdf.pdf_extract_text(blob) == ACCENT_TEXT


def test_differences_overrides_base_encoding():
    """Code 232 is è in WinAnsi; the /Differences [232 /eacute] remap
    must win — mojibake here means the Differences array was ignored."""
    blob = pdf.write_pdf([{"width": 612, "height": 792,
                           "lines": ["café"]}], font="winansi")
    assert pdf.pdf_extract_text(blob) == "café"
    # the show-string carries the remapped code 232, never UTF-8 é —
    # only the Differences lookup can produce the right char
    assert b"caf\xe8" in blob
    assert "café".encode("utf-8") not in blob


def test_cid_strings_are_two_byte_hex():
    blob = pdf.write_pdf([{"width": 612, "height": 792,
                           "lines": ["ab"]}], font="cid")
    assert b"<010101020100" in blob or b"<01010102>" in blob
    assert pdf.pdf_extract_text(blob) == "ab"


def test_parse_cmap_bfchar_and_bfrange_forms():
    from amazon_textract_transformer_pipeline_spark.functions.pdf import (
        _parse_cmap_tounicode,
    )

    cmap = b"""
1 begincodespacerange <0000> <FFFF> endcodespacerange
2 beginbfchar
<0041> <0058>
<0042> <00E90301>
endbfchar
2 beginbfrange
<0050> <0052> <0061>
<0060> <0061> [<0041> <0042>]
endbfrange
"""
    m, nbytes = _parse_cmap_tounicode(cmap)
    assert nbytes == 2
    assert m[0x41] == "X"
    assert m[0x42] == "é́"          # multi-codepoint destination
    assert (m[0x50], m[0x51], m[0x52]) == ("a", "b", "c")  # scalar range
    assert (m[0x60], m[0x61]) == ("A", "B")                # array range


def test_agl_and_glyph_names():
    from amazon_textract_transformer_pipeline_spark.functions.pdf import (
        _glyph_to_char,
    )

    assert _glyph_to_char("eacute") == "é"
    assert _glyph_to_char("udieresis") == "ü"
    assert _glyph_to_char("ntilde") == "ñ"
    assert _glyph_to_char("oslash") == "ø"
    assert _glyph_to_char("aring") == "å"
    assert _glyph_to_char("AE") == "Æ"
    assert _glyph_to_char("germandbls") == "ß"
    assert _glyph_to_char("quotedblleft") == "“"
    assert _glyph_to_char("uni0041") == "A"
    assert _glyph_to_char("u1F600") == "\U0001F600"
    assert _glyph_to_char("nosuchglyphname") is None


def test_widths_array_drives_word_geometry():
    """A /Widths table replaces the Courier 600-em constant: word width
    = Σ w(code)/1000 × size. Hand-built PDF with width-500 glyphs."""
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R"
           b" /MediaBox [0 0 612 792]"
           b" /Resources << /Font << /F1 4 0 R >> >>"
           b" /Contents 5 0 R >> endobj\n"
           b"4 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helv"
           b" /FirstChar 65 /LastChar 66 /Widths [500 500] >> endobj\n"
           b"5 0 obj << /Length 41 >>\n"
           b"stream\nBT /F1 12 Tf 72 700 Td (AB) Tj ET\nendstream"
           b" endobj\n")
    lines = pdf.pdf_extract_words(raw)[0]["lines"]
    word = lines[0]["words"][0]
    assert word["text"] == "AB"
    assert word["w"] == pytest.approx(2 * 500 / 1000.0 * 12)
    # an unlisted code would fall back to 600 (no descriptor) — covered
    # by the default-font roundtrips above


def test_type0_without_tounicode_identity_decode():
    """2-byte Identity-H codes with no CMap decode as BMP identity —
    best-effort, never raises."""
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R"
           b" /MediaBox [0 0 612 792]"
           b" /Resources << /Font << /F1 4 0 R >> >>"
           b" /Contents 5 0 R >> endobj\n"
           b"4 0 obj << /Type /Font /Subtype /Type0 /BaseFont /X"
           b" /Encoding /Identity-H /DescendantFonts [6 0 R] >> endobj\n"
           b"6 0 obj << /Type /Font /Subtype /CIDFontType2 /DW 600"
           b" /W [65 [500 500]] >> endobj\n"
           b"5 0 obj << /Length 47 >>\n"
           b"stream\nBT /F1 12 Tf 72 700 Td <00410042> Tj ET\nendstream"
           b" endobj\n")
    page = pdf.pdf_extract_words(raw)[0]
    word = page["lines"][0]["words"][0]
    assert word["text"] == "AB"
    assert word["w"] == pytest.approx(2 * 500 / 1000.0 * 12)  # CID /W used


def _type0_doc(encoding: bytes, hexstr: bytes, extra_font: bytes = b"") -> bytes:
    stream = b"BT /F1 12 Tf 72 700 Td <" + hexstr + b"> Tj ET"
    return (b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R"
            b" /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 4 0 R >> >>"
            b" /Contents 5 0 R >> endobj\n"
            b"4 0 obj << /Type /Font /Subtype /Type0 /BaseFont /X"
            b" /Encoding /" + encoding +
            b" /DescendantFonts [6 0 R]" + extra_font + b" >> endobj\n"
            b"6 0 obj << /Type /Font /Subtype /CIDFontType0 /BaseFont /X"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (GB1)"
            b" /Supplement 2 >> /DW 1000 >> endobj\n"
            b"5 0 obj << /Length " + str(len(stream)).encode() + b" >>\n"
            b"stream\n" + stream + b"\nendstream endobj\n")


def test_ucs2_predefined_cmap_decodes_as_code_points():
    """UniXX-UCS2-H families: the 2-byte code IS the UCS-2 code point —
    CJK text extracts correctly without any /ToUnicode."""
    # '中文 ok' as UTF-16BE hex
    raw = _type0_doc(b"UniGB-UCS2-H", b"4E2D65870020006F006B")
    assert pdf.pdf_extract_text(raw) == "中文 ok"
    assert pdf.pdf_extract_text(
        _type0_doc(b"UniJIS-UCS2-V", b"65E5672C")) == "日本"


def test_legacy_predefined_cmap_lands_in_error_channel():
    """A named predefined CMap we can't decode (GBK-EUC-H) with no
    /ToUnicode must raise the per-record ValueError — observable
    degradation, never silent mojibake (round-5 VERDICT #1)."""
    raw = _type0_doc(b"GBK-EUC-H", b"D6D0CEC4")
    with pytest.raises(ValueError, match="unsupported predefined CMap"):
        pdf.pdf_extract_text(raw)
    with pytest.raises(ValueError, match="GBK-EUC-H"):
        pdf.pdf_extract_words(raw)


def test_legacy_cmap_with_tounicode_still_decodes():
    """/ToUnicode takes priority (9.10.2): the same GBK-EUC-H font WITH a
    ToUnicode CMap decodes through it — no error."""
    # hand-rolled minimal 2-byte bfchar CMap: GBK codes → Unicode
    cmap = (b"/CIDInit /ProcSet findresource begin 12 dict begin\n"
            b"begincmap\n1 begincodespacerange <0000> <FFFF>"
            b" endcodespacerange\n"
            b"2 beginbfchar\n<D6D0> <4E2D>\n<CEC4> <6587>\nendbfchar\n"
            b"endcmap end end")
    stream = (b"7 0 obj << /Length " + str(len(cmap)).encode() +
              b" >>\nstream\n" + cmap + b"\nendstream endobj\n")
    raw = _type0_doc(b"GBK-EUC-H", b"D6D0CEC4",
                     extra_font=b" /ToUnicode 7 0 R") + stream
    assert pdf.pdf_extract_text(raw) == "中文"


def test_unused_bad_cmap_font_is_harmless():
    """A bad-CMap font that never shows text must not poison the doc."""
    raw = _type0_doc(b"GBK-EUC-H", b"")  # empty show string: no codes
    assert pdf.pdf_extract_text(raw) == ""


def test_resources_inherited_from_pages_node():
    """/Resources on the /Pages node reaches leaf pages (7.7.3.4) — the
    font lookup must see inherited resources."""
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R]"
           b" /Resources << /Font << /F1 4 0 R >> >> >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R"
           b" /MediaBox [0 0 612 792] /Contents 5 0 R >> endobj\n"
           b"4 0 obj << /Type /Font /Subtype /Type1 /BaseFont /C"
           b" /Encoding << /Differences [65 /eacute] >> >> endobj\n"
           b"5 0 obj << /Length 40 >>\n"
           b"stream\nBT /F1 12 Tf 72 700 Td (A) Tj ET\nendstream"
           b" endobj\n")
    assert pdf.pdf_extract_text(raw) == "é"


@pytest.mark.parametrize("enc", ["rc4", "aes"])
@pytest.mark.parametrize("kw", [{}, {"xref_stream": True},
                                {"objstm": True, "compress": True}],
                         ids=["classic", "xrefstm", "objstm-flate"])
def test_standard_security_handler_decrypts(enc, kw):
    """Owner-locked (empty-user-password) PDFs — the dominant 'encrypted'
    crawl case — extract byte-identically; RC4 V2/R3 and AES V4/R4
    both, across structural dialects; encrypted still flags."""
    blob = pdf.write_pdf(ACCENT_PAGES, font="winansi", encrypt=enc, **kw)
    m = pdf.pdf_meta(blob)
    assert m["encrypted"] is True and m["decrypted"] is True
    assert m["n_pages"] == 2
    assert pdf.pdf_extract_text(blob) == ACCENT_TEXT
    # plaintext really is absent from the file
    assert b"(H\xe9llo" not in blob and "Héllo".encode("cp1252") not in blob


def test_generation_salted_object_keys():
    """Incremental-update PDFs carry objects with generation > 0; the
    per-object key salts in the REAL generation from the 'N G obj' header
    (round-5 ADVICE: gen was hardcoded 0). Re-encrypt one content stream
    under gen 3, patch its header — extraction must stay byte-identical."""
    import re

    blob = pdf.write_pdf(PAGES, encrypt="rc4")
    doc = pdf.PdfDocument(blob)
    enc = doc._enc
    assert enc is not None
    # the object key really depends on gen
    ct = enc.encrypt_bytes(b"secret", 7, gen=3)
    assert enc.decrypt_bytes(ct, 7, 3) == b"secret"
    assert enc.decrypt_bytes(ct, 7, 0) != b"secret"

    # end-to-end: renumber one stream object to gen 3 and re-encrypt its
    # payload with the gen-3 key ('0'→'3' keeps every offset intact)
    m = re.search(rb"(\d+) 0 obj\s*<<[^>]*/Length (\d+)[^>]*>>\s*stream\r?\n",
                  blob)
    assert m, "no stream object found"
    num, length = int(m.group(1)), int(m.group(2))
    start = m.end()
    payload = blob[start:start + length]
    plain = enc.decrypt_bytes(payload, num, 0)
    ct3 = enc.encrypt_bytes(plain, num, 3)
    assert len(ct3) == length  # RC4 is length-preserving
    hdr_at = m.start()
    patched = (blob[:hdr_at]
               + blob[hdr_at:m.end()].replace(
                   b"%d 0 obj" % num, b"%d 3 obj" % num, 1)
               + ct3 + blob[start + length:])
    assert pdf.pdf_extract_text(patched) == WANT_TEXT


def test_true_user_password_stays_metadata_only():
    """A /U that doesn't verify against the empty user password (i.e. a
    real user password) must leave the doc metadata-only — ciphertext is
    never fed to the content interpreter as if it were text."""
    blob = pdf.write_pdf(PAGES, encrypt="rc4")
    # corrupt /U in place: hex digits are case-insensitive to parse but
    # value-changing when swapped with a different digit
    i = blob.index(b" /U <") + 5
    corrupt = blob[:i] + bytes([(blob[i] ^ 1) | 0x30]) + blob[i + 1:]
    m = pdf.pdf_meta(corrupt)
    assert m["encrypted"] is True and m["decrypted"] is False
    assert m["n_pages"] == 3  # structure still reads
    assert pdf.pdf_extract_text(corrupt) == ""  # metadata-only


def test_stale_xref_offset_repairs_and_keeps_tree_order():
    """A stale classic-xref offset (incremental-update debris) must trigger
    the scan fallback AND the retried load must see the repaired entry —
    not this call's own cycle-guard None (the round-4 advice bug): page
    order and inherited attributes come from the page *tree*, which dies
    if the /Pages node resolves to None."""
    blob = pdf.write_pdf(PAGES)
    doc = pdf.PdfDocument(blob)
    off = doc.xref[2][1]  # /Pages root
    bad = blob.replace(f"{off:010d}".encode(), f"{off + 2:010d}".encode(), 1)
    d2 = pdf.PdfDocument(bad)
    pages_obj = d2.resolve(pdf.Ref(2, 0))
    assert isinstance(pages_obj, dict) and pages_obj.get("Type") == "Pages"
    assert pdf.pdf_extract_text(bad) == WANT_TEXT
    m = pdf.pdf_meta(bad)
    assert m["pages"][1]["rotate"] == 90  # inherited/tree attrs intact


def test_lying_stream_length_recovers():
    blob = pdf.write_pdf(PAGES[:1])
    # overstate a /Length so the endstream probe has to correct it
    bad = blob.replace(b"/Length ", b"/Length 9", 1)
    assert "Hello world one" in pdf.pdf_extract_text(bad)


def test_mediabox_inheritance_from_pages_node():
    # no xref at all → scan fallback; MediaBox only on the /Pages node
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Count 1 /MediaBox [0 0 200 100] "
           b"/Kids [3 0 R] >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R >> endobj\n"
           b"trailer << /Root 1 0 R /Size 4 >>\n")
    m = pdf.pdf_meta(raw)
    assert m["n_pages"] == 1
    assert (m["pages"][0]["width_pt"], m["pages"][0]["height_pt"]) == \
        (200.0, 100.0)


def test_missing_mediabox_defaults_to_letter():
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Count 1 /Kids [3 0 R] >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R >> endobj\n"
           b"trailer << /Root 1 0 R >>\n")
    p = pdf.pdf_meta(raw)["pages"][0]
    assert (p["width_pt"], p["height_pt"]) == (612.0, 792.0)


def test_content_stream_operators():
    # TJ kerning joins into one word and widens it by -n/1000*size
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Count 1 /MediaBox [0 0 300 300] "
           b"/Kids [3 0 R] >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
           b"4 0 obj << /Length 75 >>\nstream\n"
           b"BT /F1 10 Tf 10 50 Td [(AB) -500 (CD)] TJ "
           b"1 0 0 1 10 30 Tm <4849> Tj ET\n"
           b"endstream endobj\n"
           b"trailer << /Root 1 0 R >>\n")
    pages = pdf.pdf_extract_words(raw)
    words = [w for ln in pages[0]["lines"] for w in ln["words"]]
    assert [w["text"] for w in words] == ["ABCD", "HI"]
    ab = words[0]
    assert ab["x"] == pytest.approx(10.0)
    assert ab["w"] == pytest.approx(4 * 6.0 + 5.0)  # 0.6em*10pt + kern
    assert words[1]["y"] == pytest.approx(30.0)  # Tm repositioned
    assert pdf.pdf_extract_text(raw) == "ABCD\nHI"


def test_string_escapes_and_quote_ops():
    raw = (b"%PDF-1.4\n"
           b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
           b"2 0 obj << /Type /Pages /Count 1 /MediaBox [0 0 300 300] "
           b"/Kids [3 0 R] >> endobj\n"
           b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
           b"4 0 obj << /Length 74 >>\nstream\n"
           b"BT /F1 10 Tf 14 TL 10 60 Td (a\\(b\\)c \\101) Tj (next) ' ET\n"
           b"endstream endobj\n"
           b"trailer << /Root 1 0 R >>\n")
    # \101 octal = 'A'; ' = T* + Tj → second line
    assert pdf.pdf_extract_text(raw) == "a(b)c A\nnext"


def test_sniff_integration():
    blob = pdf.write_pdf(PAGES)
    assert codecs.sniff_format(blob) == "pdf"
    assert codecs.sniff_dimensions(blob) == (612, 792)
    assert codecs.count_frames(blob) == 3
    assert pdf.render_plan(612, 792) == (2550, 3300)  # US Letter @300dpi
    assert pdf.render_plan(612, 792, dpi=72) == (612, 792)


def test_frontend_dispatch_real_geometry(spark):
    """PDFs flow through html_to_words with content-stream geometry:
    boxes are real (margin 72pt of 612pt wide page → left ≈ 0.1176)."""
    from amazon_textract_transformer_pipeline_spark.operators.assembly import (
        assemble_text,
    )
    from amazon_textract_transformer_pipeline_spark.operators.frontend import (
        html_to_words,
    )

    blob = pdf.write_pdf(PAGES)
    df = spark.createDataFrame(
        [("pdf://x", bytearray(blob)), ("html://y", bytearray(
            b"<html><body><article><p>plain html words</p>"
            b"</article></body></html>"))],
        "url string, html binary")
    words = html_to_words(df)
    got = {r.url: r for r in words.collect()}
    assert got["pdf://x"].n_pages == 2  # empty page dropped (D8)
    first = got["pdf://x"].pages[0].words[0]
    assert first.text == "Hello"
    assert first.box.left == pytest.approx(72.0 / 612.0)
    assert first.box.top == pytest.approx((792 - 720 - 12) / 792.0)
    txt = {r.url: r.extracted_text for r in assemble_text(words).collect()}
    assert txt["pdf://x"] == WANT_TEXT.replace("\f", "\n")
    assert txt["html://y"] == "plain html words"


def test_hostile_inputs_never_raise_out_of_meta():
    blob = pdf.write_pdf(PAGES)
    for bad in [b"%PDF-", b"%PDF-1.4\ngarbage", blob[:40], blob[:200],
                blob[:-30], b"%PDF-1.4\n" + b"\x00" * 64,
                blob.replace(b"obj", b"obX")]:
        try:
            m = pdf.pdf_meta(bad)
            assert isinstance(m["n_pages"], int)
        except ValueError:
            pass  # explicit error channel is fine; other exceptions not
    with pytest.raises(ValueError):
        pdf.pdf_meta(b"not a pdf at all")


def test_incremental_update_prev_chain():
    """A /Prev-chained second revision: newest xref wins for changed
    objects, old entries still resolve."""
    base = pdf.write_pdf(PAGES[:1])
    start = base.rfind(b"startxref")
    base_xref_off = int(base[start:].split()[1])
    # append a replacement for object 5 (content stream) + new xref
    newc = b"BT /F1 12 Tf 72 720 Td (patched text) Tj ET"
    add = f"5 0 obj\n<< /Length {len(newc)} >>\nstream\n".encode() \
        + newc + b"\nendstream\nendobj\n"
    off5 = len(base)
    out = base + add
    xoff = len(out)
    out += (b"xref\n5 1\n" + f"{off5:010d} 00000 n \n".encode()
            + b"trailer\n<< /Size 6 /Root 1 0 R /Prev "
            + str(base_xref_off).encode() + b" >>\n"
            + f"startxref\n{xoff}\n%%EOF\n".encode())
    assert pdf.pdf_extract_text(out) == "patched text"
    assert pdf.pdf_meta(out)["n_pages"] == 1


def test_encrypted_corruption_never_escapes_valueerror():
    """Random corruption of encrypted PDFs stays inside the sanctioned
    ValueError channel (or degrades to fewer pages/empty text) — never
    an uncontrolled exception from the crypto/parse path."""
    import random

    rng = random.Random(99)
    for enc in ("rc4", "aes"):
        blob = pdf.write_pdf(PAGES[:2], encrypt=enc, compress=True)
        for _ in range(40):
            bad = bytearray(blob)
            for _ in range(rng.randint(1, 6)):
                bad[rng.randrange(len(bad))] = rng.randrange(256)
            try:
                m = pdf.pdf_meta(bytes(bad))
                assert isinstance(m["n_pages"], int)
                pdf.pdf_extract_text(bytes(bad))
            except ValueError:
                pass  # the sanctioned channel
