"""Real-PDF text extraction kernel (kernels/pdf_parse.py).

Constructs genuine minimal PDFs (object scan, FlateDecode, BT/ET content
streams) in-test — no external fixtures — and asserts deterministic text
extraction through the same `extract_pdf_text` entry the Spark UDF uses.
"""

from __future__ import annotations

import zlib

import pytest

from docling_graph_spark.kernels import pdf_parse as P
from docling_graph_spark.kernels.pdf_parse import (
    extract_content_stream_text,
    extract_real_pdf_text,
)
from docling_graph_spark.kernels.pdf_stub import (
    extract_pdf_text,
    make_fake_pdf,
)


def _make_real_pdf(page_streams, compress=True):
    """Assemble a minimal but structurally genuine PDF.

    Layout: 1=Catalog, 2=Pages, then for page i: (3+2i)=Page, (4+2i)=content.
    """
    objs = {}
    kids = []
    next_id = 3
    for stream in page_streams:
        page_id, content_id = next_id, next_id + 1
        next_id += 2
        kids.append(f"{page_id} 0 R")
        objs[page_id] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {content_id} 0 R >>"
        ).encode()
        data = stream.encode("latin-1") if isinstance(stream, str) else stream
        if compress:
            body = zlib.compress(data)
            head = f"<< /Length {len(body)} /Filter /FlateDecode >>".encode()
        else:
            body = data
            head = f"<< /Length {len(body)} >>".encode()
        objs[content_id] = head + b"\nstream\n" + body + b"\nendstream"
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {len(kids)} >>"
    ).encode()

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


SIMPLE_STREAM = "BT /F1 12 Tf 72 720 Td (Hello) Tj 0 -14 Td (World) Tj ET"


def test_single_page_flate():
    pdf = _make_real_pdf([SIMPLE_STREAM])
    text, err = extract_real_pdf_text(pdf)
    assert err is None
    assert text == "Hello\nWorld"


def test_uncompressed_stream():
    pdf = _make_real_pdf([SIMPLE_STREAM], compress=False)
    text, err = extract_real_pdf_text(pdf)
    assert err is None
    assert text == "Hello\nWorld"


def test_multi_page_join():
    pdf = _make_real_pdf([
        "BT (Page one.) Tj ET",
        "BT (Page two.) Tj ET",
    ])
    text, err = extract_real_pdf_text(pdf)
    assert err is None
    assert text == "Page one.\n\nPage two."


def test_routed_through_extract_pdf_text():
    # the UDF-facing entry must route real PDFs to the real parser ...
    pdf = _make_real_pdf([SIMPLE_STREAM])
    text, err = extract_pdf_text(pdf)
    assert (text, err) == ("Hello\nWorld", None)
    # ... while the fake container keeps its byte-identity fast path
    text, err = extract_pdf_text(make_fake_pdf("verbatim payload\nline 2"))
    assert (text, err) == ("verbatim payload\nline 2", None)


def test_determinism():
    pdf = _make_real_pdf([SIMPLE_STREAM, "BT (x) Tj ET"])
    assert extract_real_pdf_text(pdf) == extract_real_pdf_text(pdf)


def test_tj_array_and_hex_strings():
    stream = "BT [(Wor) -120 (ld)] TJ T* <48692e> Tj ET"
    assert extract_content_stream_text(stream.encode()) == "World\nHi."


def test_literal_string_escapes():
    stream = rb"BT (a\(b\)c \\ \164 line\nnext) Tj ET"
    assert extract_content_stream_text(stream) == "a(b)c \\ t line\nnext"


def test_utf16be_string():
    payload = b"\xfe\xff" + "héllo".encode("utf-16-be")
    stream = b"BT (" + payload.replace(b"\\", b"\\\\").replace(
        b"(", b"\\(").replace(b")", b"\\)") + b") Tj ET"
    assert extract_content_stream_text(stream) == "h\xe9llo"


def test_quote_operators_newline():
    stream = b"BT (first) Tj (second) ' ET"
    assert extract_content_stream_text(stream) == "first\nsecond"


def test_text_outside_bt_et_ignored():
    stream = b"(not shown) Tj BT (shown) Tj ET"
    assert extract_content_stream_text(stream) == "shown"


def test_no_text_pdf_reports_error():
    pdf = _make_real_pdf(["q 1 0 0 1 0 0 cm Q"])  # graphics only
    text, err = extract_real_pdf_text(pdf)
    assert text == "" and err is not None


def test_garbage_payload():
    text, err = extract_real_pdf_text(b"%PDF-1.4 not really")
    assert text == "" and err is not None


def test_real_pdf_through_spark_extract_udf(spark):
    """A genuine PDF payload in the html column routes through the same
    Arrow UDF as HTML rows and yields kind='pdf' with the parsed text."""
    import datetime

    from docling_graph_spark.operators.extract import extract_and_chunk
    from docling_graph_spark.schemas import WEB_PAGES

    pdf = _make_real_pdf([SIMPLE_STREAM])
    rows = [
        ("https://h0.example.com/real.pdf",
         datetime.datetime(2024, 1, 1), bytearray(pdf), "", "en"),
        ("https://h0.example.com/fake.pdf",
         datetime.datetime(2024, 1, 1),
         bytearray(make_fake_pdf("fake body")), "fake body", "en"),
    ]
    df = spark.createDataFrame(rows, schema=WEB_PAGES)
    got = {r["url"]: r
           for r in extract_and_chunk(df, 512, 8000, 0.85).collect()}
    real = got["https://h0.example.com/real.pdf"]
    assert real["kind"] == "pdf" and real["error"] is None
    assert real["text"] == "Hello\nWorld"
    fake = got["https://h0.example.com/fake.pdf"]
    assert fake["kind"] == "pdf" and fake["text"] == "fake body"


def test_length_key_overrides_false_endstream():
    """An uncompressed stream containing the literal bytes '\\nendstream'
    mid-payload must not be truncated when /Length gives the true extent."""
    stream = b"BT (part one) Tj T* ET\nendstream\nBT (part two) Tj ET"
    body = (b"<< /Length " + str(len(stream)).encode() + b" >>"
            + b"\nstream\n" + stream + b"\nendstream")
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
           b"4 0 obj\n" + body + b"\nendobj\n"
           b"trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    text, err = extract_real_pdf_text(pdf)
    assert err is None
    assert text == "part one\npart two"


# ---------------------------------------------------------------------------
# Round 4: compressed xref (ObjStm) + CID fonts with ToUnicode
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("text", [
    "Hello, World 42!",
    "line one\nline two\n\nafter a blank line 99",
    "unicode: café – ★ 2024",
    "",
    "only\n\n\nnewlines",
])
def test_objstm_cid_roundtrip(text):
    """A PDF 1.5 document whose catalog/pages/page/font objects live in
    a /Type /ObjStm (located only via an /XRef stream — no classic xref
    table) and whose text is 2-byte Identity-H CIDs mapped by a
    /ToUnicode CMap must round-trip byte-for-byte."""
    from docling_graph_spark.kernels.pdf_parse import (
        encode_pdf_objstm_cid)

    pdf = encode_pdf_objstm_cid(text)
    assert b"/Type /ObjStm" in pdf and b"/Type /XRef" in pdf
    assert b"xref\n0 " not in pdf  # really no classic xref table
    got, err = P.extract_real_pdf_text(pdf)
    if text:
        assert err is None
        assert got == text
    else:
        assert got == ""


def test_tounicode_bfrange_increment_and_array():
    """The single-destination bfrange form increments the destination
    value per code; the array form maps positionally."""
    from docling_graph_spark.kernels.pdf_parse import _parse_tounicode

    cmap = (b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"1 beginbfrange\n<0041> <0043> <0058>\nendbfrange\n"
            b"1 beginbfrange\n<0060> <0061> [<0077> <00790079>]\n"
            b"endbfrange\n"
            b"1 beginbfchar\n<00A0> <D83DDE00>\nendbfchar\n")
    got = _parse_tounicode(cmap)
    assert got["nbytes"] == 2
    assert got["map"][0x41] == "X" and got["map"][0x43] == "Z"
    assert got["map"][0x60] == "w" and got["map"][0x61] == "yy"
    assert got["map"][0xA0] == "\U0001F600"  # surrogate-pair dst


def test_cid_font_without_tounicode_keeps_byte_path():
    """A font with no /ToUnicode must leave string decoding on the
    Latin-1 byte path (no crash, no misrouting)."""
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
           b"5 0 obj\n<< /Type /Font /Subtype /TrueType >>\nendobj\n"
           b"4 0 obj\n<< /Length 26 >>\nstream\n"
           b"BT /F1 9 Tf (plain text) Tj ET\nendstream\nendobj\n"
           b"%%EOF\n")
    got, err = P.extract_real_pdf_text(pdf)
    assert got == "plain text" and err is None


def test_resources_inherited_from_parent():
    """A page with no /Resources inherits the /Pages parent's fonts —
    the standard real-world layout."""
    import zlib as _z

    cmap = _z.compress(
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<0001> <0048>\n<0002> <0069>\nendbfchar\n")
    pdf = (b"%PDF-1.5\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 "
           b"/Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
           b"endobj\n"
           b"5 0 obj\n<< /Type /Font /Subtype /Type0 "
           b"/Encoding /Identity-H /ToUnicode 7 0 R >>\nendobj\n"
           b"7 0 obj\n<< /Length " + str(len(cmap)).encode() +
           b" /Filter /FlateDecode >>\nstream\n" + cmap +
           b"\nendstream\nendobj\n"
           b"4 0 obj\n<< /Length 30 >>\nstream\n"
           b"BT /F1 9 Tf <00010002> Tj ET\nendstream\nendobj\n"
           b"%%EOF\n")
    got, err = P.extract_real_pdf_text(pdf)
    assert got == "Hi" and err is None


def test_unmapped_cid_routes_to_replacement_char():
    from docling_graph_spark.kernels.pdf_parse import (
        _decode_with_cmap)

    cmap = {"nbytes": 2, "map": {1: "a"}}
    assert _decode_with_cmap(b"\x00\x01\x00\x99", cmap) == "a�"


# ---------------------------------------------------------------------------
# Round 4: encrypted PDFs (standard security handler, RC4, empty pw)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bits", [40, 128])
@pytest.mark.parametrize("text", ["Secret invoice 42",
                                  "line one\nline two\n\ntail 7"])
def test_rc4_encrypted_roundtrip(bits, text):
    """Streams RC4-encrypted under the per-object key (V1/R2 40-bit and
    V2/R3 128-bit with the 50-round key mix) decrypt transparently —
    the common crawl case of permission-restricted documents readable
    with the empty user password."""
    from docling_graph_spark.kernels.pdf_parse import encrypt_pdf_rc4

    esc = text.replace("(", r"\(").replace(")", r"\)")
    stream = f"BT ({esc}) Tj ET"
    pdf = (f"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\n"
           f"endobj\n2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
           f"\nendobj\n3 0 obj\n<< /Type /Page /Parent 2 0 R "
           f"/Contents 4 0 R >>\nendobj\n4 0 obj\n"
           f"<< /Length {len(stream)} >>\nstream\n{stream}\nendstream\n"
           f"endobj\ntrailer\n<< /Root 1 0 R >>\n%%EOF\n").encode()
    got, err = P.extract_real_pdf_text(encrypt_pdf_rc4(pdf, bits))
    assert err is None and got == text


def test_rc4_encrypted_objstm_cid_combo():
    """Encryption composes with the compressed-xref + CID-font path:
    the ObjStm and the ToUnicode CMap are themselves encrypted
    streams."""
    from docling_graph_spark.kernels.pdf_parse import (
        encode_pdf_objstm_cid, encrypt_pdf_rc4)

    text = "unicode café – 99\nsecond line"
    got, err = P.extract_real_pdf_text(
        encrypt_pdf_rc4(encode_pdf_objstm_cid(text), 128))
    assert err is None and got == text


def test_aesv2_encrypted_roundtrip():
    """AESV2 (V4/R4) — the PDF 1.6 default: AES-128-CBC streams with
    the sAlT-ed per-object key, 16-byte IV prefix, PKCS#7 padding —
    decrypts transparently, composing with ObjStm + CID decode."""
    from docling_graph_spark.kernels.pdf_parse import (
        encode_pdf_objstm_cid, encrypt_pdf_rc4)

    text = "AES secret 99\nsecond line"
    got, err = P.extract_real_pdf_text(
        encrypt_pdf_rc4(encode_pdf_objstm_cid(text), cipher="aes"))
    assert err is None and got == text


def test_aes256_v5_r6_roundtrip():
    """AES-256 (V5/R6, PDF 2.0): the Algorithm-2.B iterated hash
    validates the empty user password against /U, /UE unwraps the file
    key, and streams decrypt under it directly (no per-object
    derivation)."""
    from docling_graph_spark.kernels.pdf_parse import (
        encode_pdf_objstm_cid, encrypt_pdf_rc4)

    text = "AES-256 secret\nsecond line 42"
    got, err = P.extract_real_pdf_text(
        encrypt_pdf_rc4(encode_pdf_objstm_cid(text), cipher="aes256"))
    assert err is None and got == text


def test_aes256_wrong_password_routed():
    """A corrupted /U validation hash means the empty user password
    does not open the document — routed as an explicit error, never
    garbage output."""
    from docling_graph_spark.kernels.pdf_parse import (
        encode_pdf_objstm_cid, encrypt_pdf_rc4)

    enc = bytearray(encrypt_pdf_rc4(
        encode_pdf_objstm_cid("hidden"), cipher="aes256"))
    i = enc.index(b"/U <") + 4
    enc[i:i + 2] = b"00" if enc[i:i + 2] != b"00" else b"11"
    got, err = P.extract_real_pdf_text(bytes(enc))
    assert got == "" and "user password" in err


def test_wrong_key_material_fails_loudly_not_garbage():
    """Corrupting /O changes the derived key; the decrypted stream is
    noise and extraction reports an error instead of emitting junk
    from a FlateDecode failure."""
    import zlib as _z

    from docling_graph_spark.kernels.pdf_parse import encrypt_pdf_rc4

    stream = _z.compress(b"BT (hidden) Tj ET")
    pdf = (b"%PDF-1.4\n3 0 obj\n<< /Type /Page /Contents 4 0 R >>\n"
           b"endobj\n4 0 obj\n<< /Length " + str(len(stream)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + stream
           + b"\nendstream\nendobj\n%%EOF\n")
    enc = bytearray(encrypt_pdf_rc4(pdf, 128))
    i = enc.index(b"/O <") + 4
    enc[i:i + 2] = b"00" if enc[i:i + 2] != b"00" else b"11"
    got, err = P.extract_real_pdf_text(bytes(enc))
    assert got == "" and err is not None


def test_aes_length_rewritten_to_ciphertext_size():
    """AES encryption lengthens streams (IV + PKCS#7 padding); the
    fixture encoder must rewrite /Length so decrypters take the
    exact-length path — a stale plaintext /Length forced the regex
    fallback, which ate a trailing 0x0D ciphertext byte ~1/256 streams
    and silently left the stream encrypted (round-5 ADVICE repro:
    sweep enough distinct payloads to have hit it reliably)."""
    from docling_graph_spark.kernels.pdf_parse import encrypt_pdf_rc4

    for cipher in ("aes", "aes256"):
        for i in range(120):
            text = f"payload {i:03d} {'x' * (i % 13)}"
            stream = f"BT ({text}) Tj ET"
            pdf = (f"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
                   f"4 0 obj\n<< /Length {len(stream)} >>\nstream\n"
                   f"{stream}\nendstream\nendobj\n"
                   f"trailer\n<< /Root 1 0 R >>\n%%EOF\n").encode()
            enc = encrypt_pdf_rc4(pdf, cipher=cipher)
            got, err = P.extract_real_pdf_text(enc)
            assert err is None and got == text, (cipher, i, err, got)


def test_decrypt_reclaims_regex_swallowed_cr():
    """Even without the /Length rewrite (foreign encrypters emit stale
    lengths too), _decrypt_streams retries with the \\r the stream
    regex swallowed when the ciphertext length is not a multiple of
    16."""
    from docling_graph_spark.kernels import pdf_parse as PP

    found = 0
    for i in range(600):
        text = f"cr probe {i:04d}"
        stream = f"BT ({text}) Tj ET"
        pdf = (f"%PDF-1.4\n4 0 obj\n<< /Length {len(stream)} >>\n"
               f"stream\n{stream}\nendstream\nendobj\n"
               f"trailer\n<< /Root 4 0 R >>\n%%EOF\n").encode()
        enc = PP.encrypt_pdf_rc4(pdf, cipher="aes")
        # Revert the encoder's /Length fix to simulate a foreign
        # encrypter: restore the plaintext length token.
        m = __import__("re").search(rb"/Length (\d+) >>\nstream", enc)
        stale = enc[:m.start(1)] + str(len(stream)).encode() + enc[m.end(1):]
        body_m = PP._STREAM_RE.search(stale)
        got, err = PP.extract_real_pdf_text(stale)
        if len(body_m.group(1)) % 16:
            found += 1  # the regex swallowed a trailing ciphertext \r
        assert err is None and got == text, (i, err, got)
    assert found >= 1, "sweep never exercised the swallowed-\\r path"


def test_bfrange_overflow_skips_out_of_range_tail():
    """A malformed CMap whose bfrange crosses the destination width
    (base <FFFE> with a long range) must not abort the document —
    out-of-range mappings are skipped, in-range ones kept."""
    from docling_graph_spark.kernels.pdf_parse import _parse_tounicode

    cmap = (b"begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"beginbfrange\n<0010> <00FF> <FFFE>\nendbfrange\n")
    parsed = _parse_tounicode(cmap)
    assert parsed["map"][0x10] == "￾"
    assert 0x13 not in parsed["map"]  # 0x10001 won't fit 2 bytes


# ---------------------------------------------------------------------------
# Round 5: the full standard stream-filter chain
# ---------------------------------------------------------------------------


def _one_stream_pdf(filter_spec: str, payload: bytes) -> bytes:
    return (b"%PDF-1.4\n4 0 obj\n<< /Length "
            + str(len(payload)).encode() + b" " + filter_spec.encode()
            + b" >>\nstream\n" + payload
            + b"\nendstream\nendobj\ntrailer\n<< /Root 4 0 R >>\n%%EOF\n")


def test_stream_filters_decode():
    import base64

    from docling_graph_spark.kernels.tiff_codec import _lzw_encode

    text = "filter chain test\nsecond line 42"
    stream = f"BT ({text}) Tj ET".encode()
    cases = {
        "/Filter /LZWDecode": _lzw_encode(stream),
        "/Filter /ASCIIHexDecode": stream.hex().encode() + b">",
        "/Filter /ASCII85Decode": base64.a85encode(stream) + b"~>",
        "/Filter /RunLengthDecode":
            bytes([len(stream) - 1]) + stream + b"\x80",
        "/Filter [/ASCIIHexDecode /LZWDecode]":
            _lzw_encode(stream).hex().encode() + b">",
    }
    for spec, payload in cases.items():
        got, err = P.extract_real_pdf_text(_one_stream_pdf(spec,
                                                           payload))
        assert err is None and got == text, (spec, err, got)


def test_flate_png_predictor_up():
    import zlib

    text = "predictor rows here"
    stream = f"BT ({text}) Tj ET".encode()
    cols = 8
    rows = [stream[i:i + cols].ljust(cols, b" ")
            for i in range(0, len(stream), cols)]
    filt = bytearray()
    prev = bytes(cols)
    for r in rows:
        filt += b"\x02" + bytes((r[i] - prev[i]) & 0xFF
                                for i in range(cols))
        prev = r
    z = zlib.compress(bytes(filt))
    spec = ("/Filter /FlateDecode /DecodeParms "
            "<< /Predictor 12 /Columns 8 >>")
    got, err = P.extract_real_pdf_text(_one_stream_pdf(spec, z))
    assert err is None and text in got


def test_lzw_early_change_zero_variant():
    """EarlyChange 0 shifts the code-width thresholds by one; both
    variants of a stream long enough to cross 9->10 bits decode."""
    from docling_graph_spark.kernels.tiff_codec import (_lzw_decode,
                                                        _lzw_encode)
    import random

    rng = random.Random(4)
    data = bytes(rng.randrange(256) for _ in range(900))
    enc = _lzw_encode(data)
    assert _lzw_decode(enc, None, early_change=True) == data
    # decoding with the wrong variant must desync — either detected
    # loudly (code gap) or as different output, never silent identity
    try:
        got = _lzw_decode(enc, None, early_change=False)
        assert got != data
    except ValueError:
        pass


def test_unsupported_filters_route_not_garbage():
    pdf = _one_stream_pdf("/Filter /DCTDecode", b"\xff\xd8\xff junk")
    got, err = P.extract_real_pdf_text(pdf)
    assert got == ""                     # no text, no crash, no garbage


# ------------------------------------------------- /Info metadata (r5)

def test_pdf_info_metadata_roundtrip():
    from docling_graph_spark.kernels.pdf_parse import (
        add_pdf_info, encode_pdf_objstm_cid, extract_pdf_metadata,
        extract_real_pdf_text)

    base = encode_pdf_objstm_cid("hello metadata world")
    assert extract_pdf_metadata(base) == {}
    meta = {"title": "Annual Report", "artist": "Jane Doe",
            "comment": "Über résumé",          # non-ASCII -> UTF-16BE hex
            "producer": "docling-graph-spark"}
    tagged = add_pdf_info(base, meta)
    got = extract_pdf_metadata(tagged)
    assert got["title"] == "Annual Report"
    assert got["artist"] == "Jane Doe"
    assert got["comment"] == "Über résumé"
    assert got["producer"] == "docling-graph-spark"
    # text extraction is unaffected by the appended update
    t1, e1 = extract_real_pdf_text(tagged)
    assert e1 is None and "hello metadata world" in t1


def test_pdf_info_encrypted_returns_empty():
    from docling_graph_spark.kernels.pdf_parse import (
        add_pdf_info, encode_pdf_objstm_cid, encrypt_pdf_rc4,
        extract_pdf_metadata)

    pdf = add_pdf_info(encode_pdf_objstm_cid("secret"),
                       {"title": "hidden"})
    enc = encrypt_pdf_rc4(pdf)
    assert extract_pdf_metadata(enc) == {}


def test_pdf_info_malformed_never_raises():
    from docling_graph_spark.kernels.pdf_parse import extract_pdf_metadata

    for b in (b"", b"%PDF-1.4", b"/Info 3 0 R",
              b"%PDF /Info 1 0 R 1 0 obj << /Title ( >> endobj"):
        assert isinstance(extract_pdf_metadata(b), dict)
