"""X3-X6 decoder leaves, including the OCR lazy-expensive branch
(pdf_to_text_service.py:26-60,83-88)."""

import io
import zipfile

import pytest

from crawler_spark import extract as X


def test_docx_decode_real_zip():
    from crawler_spark.fixtures import _make_docx

    text = "Penalty notice issued.\nThe controller must comply.\nFinal."
    assert X.decode_docx(_make_docx(text)) == text


def test_docx_decode_rejects_garbage():
    with pytest.raises(NotImplementedError):
        X.decode_docx(b"PK\x03\x04 not really a zip")


def test_zip_decode_member_order():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("b.html", "<html><body>second</body></html>")
        z.writestr("a.html", "<html><body>first</body></html>")
    assert X.decode_zip(buf.getvalue()) == "first\nsecond"


def test_rtf_decode():
    # control-word trailing space is the delimiter (consumed), \par is a
    # newline — striprtf semantics
    assert X.decode_rtf(b"{\\rtf1 hello\\par world}") == "hello\nworld"


def test_rtf_decode_real_document():
    rtf = (
        b"{\\rtf1\\ansi\\deff0 {\\fonttbl{\\f0 Times New Roman;}}"
        b"{\\colortbl;\\red0\\green0\\blue0;}"
        b"{\\*\\generator Word 15}"
        b"\\f0\\fs24 D\\'e9cision de la CNIL\\par Une amende de 50\\{00\\} EUR.}"
    )
    assert X.decode_rtf(rtf) == "Décision de la CNIL\nUne amende de 50{00} EUR."


# -- X3 real minimal PDF codec ----------------------------------------------


def test_pdf_real_roundtrip_single_page():
    from crawler_spark.pdfcodec import encode_pdf

    text = (
        "Decision 1-2 of the france supervisory authority.\n"
        "The controller processed personal data unlawfully (case 8dd14a3f).\n"
        "  Article 5(1)(a) and Article 6 GDPR were infringed.\n"
        "A fine of EUR 295154 was imposed."
    )
    pdf = encode_pdf(text)
    assert pdf.startswith(b"%PDF-1.4") and b"/FlateDecode" in pdf
    assert X.decode_pdf(pdf) == text


def test_pdf_real_roundtrip_multipage_and_escapes():
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf

    text = "\n".join(
        [
            "line with (parens) and \\ backslash",
            "a",
            "",  # empty line survives
            "é décision naïve — em-dash",  # cp1252 bytes as octal escapes
        ]
        + [f"Paragraph {j}: filler for the multipage round trip {j * 7}" for j in range(120)]
    )
    pdf = encode_pdf(text, lines_per_page=48)
    assert pdf.count(b"/Type /Page ") == 3  # really multi-page
    assert decode_pdf_min(pdf) == text
    assert X.decode_pdf(pdf) == text.strip()


def test_pdf_uncompressed_and_damaged_xref_fallback():
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf

    text = "no filter stream\nsecond line"
    raw = encode_pdf(text, compress=False)
    assert b"/Filter" not in raw
    assert decode_pdf_min(raw) == text
    # break the startxref pointer: the reader falls back to an object scan
    assert decode_pdf_min(raw.replace(b"startxref", b"startxrEF")) == text


def test_pdf_real_empty_text_layer_falls_through_to_ocr():
    from crawler_spark.pdfcodec import encode_pdf

    with pytest.raises(NotImplementedError, match="OCR fallback"):
        X.decode_pdf(encode_pdf("   \n\t "))


def test_pdf_garbage_rejected():
    with pytest.raises(NotImplementedError):
        X.decode_pdf(b"\x00\x01 not a pdf at all")


def test_pdf_endobj_bytes_inside_stream_data():
    # 'endobj' occurring BY CHANCE inside stream data must not truncate
    # the object (round-4 ADVICE: the token search now skips the
    # /Length-delimited body) — forced here with an uncompressed content
    # stream whose text contains the literal token
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf

    text = "before endobj after\nand endstream too\nlast line"
    raw = encode_pdf(text, compress=False)
    assert b"endobj after" in raw  # the trap is really in the stream
    assert decode_pdf_min(raw) == text
    # compressed round-trip of the same text stays good
    assert decode_pdf_min(encode_pdf(text)) == text


# -- X3 OCR leaf: image-only (scanned) pdfs ---------------------------------


def test_scanned_pdf_ocr_roundtrip_through_real_jpeg():
    from crawler_spark.ocr import encode_scanned_pdf, ocr_scanned_pdf
    from crawler_spark.pdfcodec import decode_pdf_min

    text = "SCANNED DECISION 2-3 OF THE LATVIA AUTHORITY.\nFINE: EUR 1234 (CASE X/21)."
    pdf = encode_scanned_pdf(text)
    # the text layer is genuinely empty -> decode_pdf dispatches to OCR
    assert decode_pdf_min(pdf).strip() == ""
    assert b"/DCTDecode" in pdf and b" Tj" not in pdf
    # the glyph matcher survives real JPEG quantization noise exactly
    assert ocr_scanned_pdf(pdf) == text
    assert X.decode_pdf(pdf) == text


def test_scanned_pdf_dispatch_via_decode_file():
    from crawler_spark.ocr import encode_scanned_pdf

    pdf = encode_scanned_pdf("HELLO 42")
    assert X.decode_file("https://x/scan.pdf", pdf) == "HELLO 42"


def test_ocr_matcher_is_not_a_byte_copy():
    # the raster really goes through lossy JPEG: the decoded pixels
    # differ from the clean render, yet the match is exact
    from crawler_spark.multimodal import decode_jpeg_pixels, encode_jpeg
    from crawler_spark.ocr import match_raster, render_text_raster

    clean = render_text_raster("QUANTIZE ME 08")
    _, _, noisy = decode_jpeg_pixels(encode_jpeg(clean))
    assert noisy != clean  # lossy
    assert match_raster(noisy) == "QUANTIZE ME 08"


def test_pdf15_objstm_xrefstream_tounicode_roundtrip():
    """PDF-1.5 features: object streams, xref streams, /ToUnicode CMaps.

    encode_pdf15 packs all non-stream objects into a /Type /ObjStm,
    writes a binary /Type /XRef cross-reference stream (no classic
    table), and encodes text through a shifted (non-WinAnsi) code
    assignment resolved by a bfrange+bfchar /ToUnicode CMap."""
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf15

    text = (
        "Hello GDPR Article 83(5)\n"
        "fine of €2,500,000 (two) [three]\n"
        "escapes \\ and (parens) survive"
    )
    pdf = encode_pdf15(text)
    assert pdf.startswith(b"%PDF-1.5")
    assert b"/ObjStm" in pdf and b"/XRef" in pdf
    assert b"xref\n0 " not in pdf  # no classic table
    assert decode_pdf_min(pdf) == text


def test_pdf15_multipage_and_damaged_xref_scan():
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf15

    long = "\n".join(f"line {i} content alpha" for i in range(120))
    pdf = encode_pdf15(long)
    assert decode_pdf_min(pdf) == long
    # break the startxref pointer: the linear object scan must still
    # find the ObjStm container and explode its members
    assert decode_pdf_min(pdf.replace(b"startxref", b"startxrEF")) == long


def test_pdf15_tounicode_is_load_bearing():
    """The string bytes in the content stream are NOT WinAnsi: decoding
    them without the font's CMap yields different text, so the exact
    round-trip above proves the /ToUnicode path actually ran."""
    from crawler_spark import pdfcodec as P

    text = "abc XYZ 123"
    pdf = P.encode_pdf15(text)
    assert P.decode_pdf_min(pdf) == text
    # extract the sole content stream and scan it WITHOUT fonts
    offsets, compressed = P._xref_offsets(pdf)
    content_num = next(
        n for n in offsets
        if b"/ObjStm" not in P._object_at(pdf, offsets[n])[:200]
        and b"/XRef" not in P._object_at(pdf, offsets[n])[:200]
        and b"begincmap" not in P._stream_data(P._object_at(pdf, offsets[n]))
    )
    raw = P._stream_data(P._object_at(pdf, offsets[content_num]))
    assert P._page_text(raw, fonts={}) != text
    assert compressed  # members really were xref'd as type-2 entries


def test_parse_cmap_forms():
    from crawler_spark.pdfcodec import _parse_cmap

    cm = _parse_cmap(
        b"2 beginbfchar <01> <0041> <02> <00e9> endbfchar\n"
        b"1 beginbfrange <10> <12> <0061> endbfrange\n"
        b"1 beginbfrange <20> <21> [<0058> <20ac>] endbfrange\n"
    )
    assert cm[0x01] == "A" and cm[0x02] == "é"
    assert cm[0x10] == "a" and cm[0x11] == "b" and cm[0x12] == "c"
    assert cm[0x20] == "X" and cm[0x21] == "€"


def test_pdf_encrypted_roundtrip_r2_r3():
    """Standard security handler (ISO 32000 §7.6.3): RC4 stream
    encryption with MD5 key derivation, empty user password.  Covers
    both revision 2 (40-bit) and revision 3 (128-bit)."""
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf_encrypted

    text = (
        "Hello GDPR Article 83(5)\n"
        "fine of €2,500,000 (two) [three]\n"
        "escapes \\ and (parens) survive"
    )
    for r in (2, 3):
        pdf = encode_pdf_encrypted(text, r=r)
        assert b"/Encrypt" in pdf and b"/Filter /Standard" in pdf
        assert decode_pdf_min(pdf) == text


def test_pdf_encrypted_is_load_bearing():
    """The stored stream bytes must be ciphertext: inflating them raw
    fails, and a decoder given a corrupted /U (i.e. a real password)
    refuses rather than emitting garbage."""
    import re
    import zlib

    import pytest

    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf_encrypted

    text = "top secret fine schedule\nsecond line"
    pdf = encode_pdf_encrypted(text, r=3)
    # every stream body is RC4 ciphertext -> zlib can't inflate it
    for m in re.finditer(rb"stream\r?\n", pdf):
        body = pdf[m.end() : pdf.find(b"endstream", m.end())]
        with pytest.raises(zlib.error):
            zlib.decompress(body)
    # flip one /U byte -> ValueError, not wrong text
    i = pdf.find(b"/U (") + 4
    bad = pdf[:i] + bytes([pdf[i] ^ 0x55]) + pdf[i + 1 :]
    with pytest.raises(ValueError):
        decode_pdf_min(bad)


def test_pdf_encrypted_damaged_xref_scan():
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf_encrypted

    long = "\n".join(f"line {i} content alpha" for i in range(120))
    pdf = encode_pdf_encrypted(long, r=3)
    assert decode_pdf_min(pdf) == long
    assert decode_pdf_min(pdf.replace(b"startxref", b"startxrEF")) == long


def test_rc4_public_vector():
    """Pin the RC4 primitive to the classic public test vector
    (key 'Key' / plaintext 'Plaintext')."""
    from crawler_spark.pdfcodec import _rc4

    assert _rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert _rc4(b"Key", _rc4(b"Key", b"Plaintext")) == b"Plaintext"


def test_aes128_fips197_and_sp80038a_vectors():
    """Pin the AES-128 primitive to the public FIPS-197 appendix C.1
    block vector and the SP 800-38A CBC-AES128 first-block vector."""
    from crawler_spark.pdfcodec import (
        _aes_block, _aes_cbc_decrypt, _aes_cbc_encrypt, _aes_expand_key,
    )

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = _aes_block(pt, _aes_expand_key(key), False)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _aes_block(ct, _aes_expand_key(key), True) == pt

    k2 = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv2 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    p2 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    assert _aes_cbc_encrypt(k2, iv2, p2)[16:32].hex() == (
        "7649abac8119b246cee98e9b12e9197d"
    )
    data = b"padding across more than one block boundary!"
    assert _aes_cbc_decrypt(k2, _aes_cbc_encrypt(k2, iv2, data)) == data


def test_pdf_aesv2_roundtrip_and_damaged_xref():
    """V4/R4 with the /AESV2 crypt filter: IV-prefixed AES-128-CBC
    streams, per-object keys salted with 'sAlT' (ISO 32000 §7.6.2)."""
    from crawler_spark.pdfcodec import decode_pdf_min, encode_pdf_encrypted

    text = (
        "Hello GDPR Article 83(5)\n"
        "fine of €2,500,000 (two) [three]\n"
        "escapes \\ and (parens) survive"
    )
    pdf = encode_pdf_encrypted(text, r=4)
    assert b"/AESV2" in pdf and b"/V 4" in pdf and b"/R 4" in pdf
    assert decode_pdf_min(pdf) == text
    long = "\n".join(f"line {i} content alpha" for i in range(120))
    p2 = encode_pdf_encrypted(long, r=4)
    assert decode_pdf_min(p2) == long
    assert decode_pdf_min(p2.replace(b"startxref", b"startxrEF")) == long


def test_pdf_roundtrip_property_all_containers():
    """Property test: any cp1252-encodable text round-trips through all
    four containers (classic 1.4, 1.5 ObjStm/XRef/CMap, RC4-R3,
    AESV2-R4).  Newlines are the page/line structure; other control
    chars are excluded (the codec's documented text domain)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawler_spark.pdfcodec import (
        decode_pdf_min, encode_pdf, encode_pdf15, encode_pdf_encrypted,
    )

    printable = st.characters(
        codec="cp1252", exclude_categories=("Cc", "Cs"), include_characters="\n"
    )

    @settings(max_examples=25, deadline=None)
    @given(st.text(printable, min_size=1, max_size=400))
    def check(text):
        # the codec emits one line per text row; trailing empty lines
        # and CRs are outside the domain (no page content to carry them)
        text = text.replace("\r", " ")
        lines = [ln if ln else " " for ln in text.split("\n")]
        text = "\n".join(lines)
        for enc in (
            encode_pdf,
            encode_pdf15,
            encode_pdf_encrypted,
            lambda t: encode_pdf_encrypted(t, r=4),
        ):
            assert decode_pdf_min(enc(text)) == text

    check()
