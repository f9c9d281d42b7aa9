"""Source tests: per-format registry routing."""

import os

from mmore_spark.sources import registry


def _make_eml() -> bytes:
    from email.message import EmailMessage

    msg = EmailMessage()
    msg["From"] = "Alice Keller <alice@example.com>"
    msg["To"] = "Bruno Moreau <bruno@example.com>"
    msg["Subject"] = "Quarterly sync"
    msg["Date"] = "Mon, 10 Mar 2025 09:30:00 +0100"
    msg.set_content("Hello team,\nthe   merger review is attached.")
    msg.add_attachment(b"\x89PNG\r\n\x1a\nfake", maintype="image",
                       subtype="png", filename="chart.png")
    return bytes(msg)


def _make_xlsx() -> bytes:
    """Hand-built minimal OOXML workbook (no openpyxl in the container):
    two sheets, shared strings, ints and floats."""
    import io
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    workbook = (
        f'<?xml version="1.0"?><workbook {ns} {rns}><sheets>'
        '<sheet name="Data" sheetId="1" r:id="rId1"/>'
        '<sheet name="Notes" sheetId="2" r:id="rId2"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships '
        'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>'
        "</Relationships>"
    )
    shared = (
        f'<?xml version="1.0"?><sst {ns} count="4" uniqueCount="4">'
        "<si><t>name</t></si><si><t>qty</t></si><si><t>widget</t></si>"
        "<si><t>gadget</t></si></sst>"
    )
    sheet1 = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>3</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>2.5</v></c></row>'
        "</sheetData></worksheet>"
    )
    sheet2 = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>note</t></is></c></row>'
        '<row r="2"><c r="A2" t="inlineStr"><is><t>hello world</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet1)
        zf.writestr("xl/worksheets/sheet2.xml", sheet2)
    return buf.getvalue()


_WNS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_ANS = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_PNS = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
_RNS = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_REL_HEAD = ('<?xml version="1.0"?><Relationships '
             'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">')


def _zip_parts(parts: dict) -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, content in parts.items():
            zf.writestr(name, content)
    return buf.getvalue()


def _make_docx() -> bytes:
    document = (
        f'<?xml version="1.0"?><w:document {_WNS} {_ANS} {_RNS}><w:body>'
        '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
        "<w:r><w:t>Quarterly Report</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>Revenue grew </w:t></w:r><w:r><w:t>steadily.</w:t></w:r>"
        '<w:r><a:blip r:embed="rId5"/></w:r></w:p>'
        "<w:p><w:r><w:t>  </w:t></w:r></w:p>"  # blank paragraph dropped
        "</w:body></w:document>"
    )
    rels = (_REL_HEAD + '<Relationship Id="rId5" Type="x" '
            'Target="media/image1.png"/></Relationships>')
    return _zip_parts({"word/document.xml": document,
                       "word/_rels/document.xml.rels": rels})


def _make_pptx() -> bytes:
    pres = (
        f'<?xml version="1.0"?><p:presentation {_PNS} {_RNS}><p:sldIdLst>'
        '<p:sldId id="256" r:id="rId1"/><p:sldId id="257" r:id="rId2"/>'
        "</p:sldIdLst></p:presentation>"
    )
    pres_rels = (_REL_HEAD
                 + '<Relationship Id="rId1" Type="x" Target="slides/slide1.xml"/>'
                 + '<Relationship Id="rId2" Type="x" Target="slides/slide2.xml"/>'
                 "</Relationships>")

    def sp(text, y):
        return (f'<p:sp><p:spPr><a:xfrm><a:off x="0" y="{y}"/></a:xfrm></p:spPr>'
                f"<p:txBody><a:p><a:r><a:t>{text}</a:t></a:r></a:p></p:txBody></p:sp>")

    slide1 = (
        f'<?xml version="1.0"?><p:sld {_PNS} {_ANS} {_RNS}><p:cSld><p:spTree>'
        + sp("Below title", 500)
        + sp("Slide One Title", 100)
        + '<p:pic><p:spPr><a:xfrm><a:off x="0" y="300"/></a:xfrm></p:spPr>'
          '<p:blipFill><a:blip r:embed="rId9"/></p:blipFill></p:pic>'
        + "</p:spTree></p:cSld></p:sld>"
    )
    slide1_rels = (_REL_HEAD
                   + '<Relationship Id="rId9" Type="x" Target="../media/pic1.png"/>'
                   + '<Relationship Id="rId8" Type="x" '
                     'Target="../notesSlides/notesSlide1.xml"/></Relationships>')
    notes1 = (
        f'<?xml version="1.0"?><p:notes {_PNS} {_ANS}><p:cSld><p:spTree><p:sp>'
        "<p:txBody><a:p><a:r><a:t>Speaker note here.</a:t></a:r></a:p></p:txBody>"
        "</p:sp></p:spTree></p:cSld></p:notes>"
    )
    slide2 = (
        f'<?xml version="1.0"?><p:sld {_PNS} {_ANS} {_RNS}><p:cSld><p:spTree>'
        + sp("Second slide text", 100) + "</p:spTree></p:cSld></p:sld>"
    )
    return _zip_parts({
        "ppt/presentation.xml": pres,
        "ppt/_rels/presentation.xml.rels": pres_rels,
        "ppt/slides/slide1.xml": slide1,
        "ppt/slides/_rels/slide1.xml.rels": slide1_rels,
        "ppt/notesSlides/notesSlide1.xml": notes1,
        "ppt/slides/slide2.xml": slide2,
    })


def _make_pdf() -> bytes:
    """Two-page hand-built PDF: page 1 uncompressed, page 2 FlateDecode,
    exercising Tj, TJ arrays, escapes, nested parens and hex strings."""
    import zlib

    page1 = (b"BT /F1 12 Tf 72 720 Td (Hello \\(nested (parens)\\) world.) Tj "
             b"0 -14 Td [(Kerned) -120 ( pairs \\100)] TJ ET")
    page2_raw = b"BT 72 720 Td (Second page.) Tj 0 -14 Td <48657821> Tj ET"
    page2 = zlib.compress(page2_raw)
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Length " + str(len(page1)).encode() + b" >>\nstream\n"
        + page1 + b"\nendstream\nendobj\n"
        b"2 0 obj << /Length " + str(len(page2)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + page2 + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    return body


def test_parse_pdf():
    text, refs = registry.parse_pdf("/m/p.pdf", _make_pdf())
    assert refs == []
    # pages now join with the reference's pagination marker
    pages = text.split("\n\n{0}----\n\n")
    assert len(pages) == 2
    lines = pages[0].split("\n")
    assert lines[0] == "Hello (nested (parens)) world."
    assert lines[1] == "Kerned pairs @"      # \100 octal = '@'; TJ concat
    lines2 = pages[1].split("\n")
    assert lines2[0] == "Second page."       # FlateDecode path
    assert lines2[1] == "Hex!"               # hex string show


def test_parse_pdf_feeds_pagination():
    """The marker-joined pages flow into parse_pagination: per-page
    paragraph_starts recovered, markers stripped from the clean text."""
    from mmore_spark.operators.pagination import parse_pagination

    text, _ = registry.parse_pdf("/m/p.pdf", _make_pdf())
    starts, clean = parse_pagination(text)
    assert "----" not in clean
    pages_seen = {pid for _off, pid, _para in starts if pid >= 0}
    assert pages_seen == {0, 1}
    assert starts[-1] == (len(clean), -1, -1)


def test_parse_pdf_two_streams_no_duplication():
    """ADVICE r02: the 'stream\\n' inside 'endstream\\n' must not open a
    spurious window spanning into the next object (it duplicated the next
    stream's text: 'Hello\\nWorld\\nWorld')."""
    s1 = b"BT 72 720 Td (Hello) Tj ET"
    s2 = b"BT 72 720 Td (World) Tj ET"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Length " + str(len(s1)).encode() + b" >>\nstream\n"
        + s1 + b"\nendstream\nendobj\n"
        b"2 0 obj << /Length " + str(len(s2)).encode() + b" >>\nstream\n"
        + s2 + b"\nendstream\nendobj\n%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/two.pdf", body)
    assert text == "Hello\n\n{0}----\n\nWorld"  # two pages, ONE marker, no dup


def test_parse_pdf_contents_array_one_page():
    """ADVICE r03: a page whose /Contents is an ARRAY of streams must stay
    ONE page — marker count follows the page tree, not the stream count.
    Also exercises the /Kids walk ordering (page objects appear in the
    file AFTER their content streams and out of tree order)."""
    s1 = b"BT 72 720 Td (Alpha) Tj ET"
    s2 = b"BT 72 700 Td (Beta) Tj ET"
    s3 = b"BT 72 720 Td (Gamma) Tj ET"

    def obj(num: int, body: bytes) -> bytes:
        return b"%d 0 obj " % num + body + b" endobj\n"

    def streamobj(num: int, data: bytes) -> bytes:
        return (b"%d 0 obj << /Length %d >>\nstream\n" % (num, len(data))
                + data + b"\nendstream\nendobj\n")

    body = (
        b"%PDF-1.4\n"
        + streamobj(4, s1) + streamobj(5, s2) + streamobj(6, s3)
        # page 2 listed in the file BEFORE page 1: /Kids order must win
        + obj(3, b"<< /Type /Page /Parent 7 0 R /Contents 6 0 R >>")
        + obj(2, b"<< /Type /Page /Parent 7 0 R /Contents [4 0 R 5 0 R] >>")
        + obj(7, b"<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 2 >>")
        + obj(1, b"<< /Type /Catalog /Pages 7 0 R >>")
        + b"%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/arr.pdf", body)
    assert refs == []
    assert text == "Alpha\nBeta\n\n{0}----\n\nGamma"


def _streamobj(num: int, data: bytes, extra: bytes = b"") -> bytes:
    return (b"%d 0 obj << /Length %d %s>>\nstream\n" % (num, len(data), extra)
            + data + b"\nendstream\nendobj\n")


def test_parse_pdf_objstm_page_tree():
    """PDF 1.5 compressed-xref files keep catalog/pages/page objects inside
    a /Type /ObjStm stream; the page tree must still resolve (round 4)."""
    import zlib

    s1 = b"BT 72 720 Td (One) Tj ET"
    s2 = b"BT 72 720 Td (Two) Tj ET"
    # objects 1(catalog) 7(pages) 2,3(pages) packed into an object stream
    bodies = [
        (1, b"<< /Type /Catalog /Pages 7 0 R >>"),
        (7, b"<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 2 >>"),
        (2, b"<< /Type /Page /Parent 7 0 R /Contents 4 0 R >>"),
        (3, b"<< /Type /Page /Parent 7 0 R /Contents 5 0 R >>"),
    ]
    offs, blob = [], b""
    for num, body in bodies:
        offs.append((num, len(blob)))
        blob += body + b" "
    header = b" ".join(b"%d %d" % (n, o) for n, o in offs) + b" "
    objstm_raw = header + blob
    comp = zlib.compress(objstm_raw)
    objstm = (b"9 0 obj << /Type /ObjStm /N 4 /First %d /Length %d "
              b"/Filter /FlateDecode >>\nstream\n" % (len(header), len(comp))
              + comp + b"\nendstream\nendobj\n")
    payload = (b"%PDF-1.5\n" + _streamobj(4, s1) + _streamobj(5, s2)
               + objstm + b"%%EOF\n")
    text, refs = registry.parse_pdf("/m/objstm.pdf", payload)
    assert refs == []
    assert text == "One\n\n{0}----\n\nTwo"


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Minimal PDF LZW encoder for fixtures: clear-table start, EOD end,
    MSB-first variable width 9-12 mirroring the decoder's widening rule."""
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    out_bits: list[tuple[int, int]] = [(256, 9)]
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        out_bits.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        # Standard EarlyChange=1 rule: the decoder (one entry behind the
        # encoder) widens at table sizes 511/1023/2047, so the encoder
        # widens when next_code reaches 512/1024/2048.
        if next_code + early - 1 >= (1 << width) and width < 12:
            width += 1
        w = bytes([ch])
    if w:
        out_bits.append((table[w], width))
        next_code += 1  # the decoder appends an entry for this code too
        if next_code + early - 1 >= (1 << width) and width < 12:
            width += 1
    out_bits.append((257, width))
    acc = nbits = 0
    out = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_parse_pdf_filter_chains():
    """Round 4: LZW / ASCIIHex / ASCII85 filters and a chained
    [ASCII85 + Flate] stream all decode with the stdlib."""
    import base64
    import zlib

    s_lzw = _lzw_encode(b"BT (Lzw page) Tj ET")
    s_hex = b"BT (Hex page) Tj ET".hex().encode() + b">"
    comp = zlib.compress(b"BT (ChainedEightFive) Tj ET")
    s_a85 = base64.a85encode(comp) + b"~>"
    body = (
        b"%PDF-1.4\n"
        + _streamobj(1, s_lzw, b"/Filter /LZWDecode ")
        + _streamobj(2, s_hex, b"/Filter /ASCIIHexDecode ")
        + _streamobj(3, s_a85, b"/Filter [/ASCII85Decode /FlateDecode] ")
        + b"%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/filters.pdf", body)
    assert refs == []
    assert text.split("\n\n{0}----\n\n")[0] == "Lzw page"
    assert "Hex page" in text and "ChainedEightFive" in text

    # RunLengthDecode: literal run + a repeat run, EOD-terminated
    plain = b"BT (Rle page) Tj ET"
    rle = bytes([len(plain) - 1]) + plain + bytes([257 - 4]) + b" " + b"\x80"
    body2 = (b"%PDF-1.4\n"
             + _streamobj(1, rle, b"/Filter /RunLengthDecode ") + b"%%EOF\n")
    t2, _ = registry.parse_pdf("/m/rle.pdf", body2)
    assert t2 == "Rle page"


def test_parse_pdf_objstm_with_png_predictor():
    """Object streams are commonly Flate + PNG Up predictor (/Predictor
    12): the page tree inside must still resolve."""
    import zlib

    s1 = b"BT 72 720 Td (Pred) Tj ET"
    bodies = [
        (1, b"<< /Type /Catalog /Pages 7 0 R >>"),
        (7, b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>"),
        (2, b"<< /Type /Page /Parent 7 0 R /Contents 4 0 R >>"),
    ]
    offs, blob = [], b""
    for num, b in bodies:
        offs.append((num, len(blob)))
        blob += b + b" "
    header = b" ".join(b"%d %d" % (n, o) for n, o in offs) + b" "
    raw = header + blob
    # apply PNG Up predictor (type 2) with Columns=4, then deflate
    cols = 4
    padded = raw + b"\x00" * ((-len(raw)) % cols)
    rows = [padded[i:i + cols] for i in range(0, len(padded), cols)]
    filtered = bytearray()
    prev = b"\x00" * cols
    for r in rows:
        filtered.append(2)
        filtered += bytes((r[j] - prev[j]) & 0xFF for j in range(cols))
        prev = r
    comp = zlib.compress(bytes(filtered))
    objstm = (b"9 0 obj << /Type /ObjStm /N 3 /First %d /Length %d "
              b"/Filter /FlateDecode /DecodeParms << /Predictor 12 "
              b"/Columns %d >> >>\nstream\n" % (len(header), len(comp), cols)
              + comp + b"\nendstream\nendobj\n")
    payload = b"%PDF-1.5\n" + _streamobj(4, s1) + objstm + b"%%EOF\n"
    text, refs = registry.parse_pdf("/m/pred.pdf", payload)
    assert text == "Pred" and refs == []


def test_parse_pdf_rc4_encrypted_empty_user_password():
    """Round 4: RC4 standard-handler PDFs (R2/40-bit) with an EMPTY user
    password — the common owner-locked case — decrypt with the stdlib;
    a non-empty user password raises per file."""
    import hashlib
    import struct

    from mmore_spark.sources.registry import _PDF_PAD, _rc4

    def pad(pw: bytes) -> bytes:
        return (pw + _PDF_PAD)[:32]

    id0 = bytes(range(16))
    o_entry = _rc4(hashlib.md5(pad(b"owner")).digest()[:5], pad(b""))
    p_val = -1
    key = hashlib.md5(_PDF_PAD + o_entry + struct.pack("<i", p_val)
                      + id0).digest()[:5]
    u_entry = _rc4(key, _PDF_PAD)

    def obj_key(num):
        return hashlib.md5(key + struct.pack("<i", num)[:3]
                           + b"\x00\x00").digest()[:10]

    content = b"BT 72 720 Td (Secret text) Tj ET"
    enc_stream = _rc4(obj_key(1), content)
    body = (
        b"%PDF-1.4\n"
        + _streamobj(1, enc_stream)
        + b"9 0 obj << /Filter /Standard /V 1 /R 2 /O <"
        + o_entry.hex().encode() + b"> /U <" + u_entry.hex().encode()
        + b"> /P -1 >> endobj\n"
        + b"trailer << /Encrypt 9 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">] >>\n%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/enc.pdf", body)
    assert text == "Secret text" and refs == []

    # wrong /U (a real user password we cannot guess) raises per file
    bad = body.replace(u_entry.hex().encode(), (b"00" * 32))
    import pytest

    with pytest.raises(NotImplementedError):
        registry.parse_pdf("/m/locked.pdf", bad)


def _aes_encrypt_block(key: bytes, block: bytes) -> bytes:
    """Forward AES-128 (test-side only — the engine only decrypts)."""
    from mmore_spark.sources.aes128 import _SBOX, _expand_key, _mul

    rk = _expand_key(key)
    st = bytearray(x ^ y for x, y in zip(block, rk[0]))

    def shift_sub(s):
        s = bytearray(_SBOX[b] for b in s)
        for r in range(1, 4):
            row = [s[r + 4 * c] for c in range(4)]
            row = row[r:] + row[:r]
            for c in range(4):
                s[r + 4 * c] = row[c]
        return s

    for rnd in range(1, 10):
        st = shift_sub(st)
        mixed = bytearray(16)
        for c in range(4):
            a = st[4 * c:4 * c + 4]
            mixed[4 * c + 0] = _mul(a[0], 2) ^ _mul(a[1], 3) ^ a[2] ^ a[3]
            mixed[4 * c + 1] = a[0] ^ _mul(a[1], 2) ^ _mul(a[2], 3) ^ a[3]
            mixed[4 * c + 2] = a[0] ^ a[1] ^ _mul(a[2], 2) ^ _mul(a[3], 3)
            mixed[4 * c + 3] = _mul(a[0], 3) ^ a[1] ^ a[2] ^ _mul(a[3], 2)
        st = bytearray(x ^ y for x, y in zip(mixed, rk[rnd]))
    st = shift_sub(st)
    return bytes(x ^ y for x, y in zip(st, rk[10]))


def _build_aes_pdf(enc_dict: bytes) -> bytes:
    """Build a V4 /AESV2 PDF with an empty user password.  ``enc_dict``
    is the inside of the /Encrypt dictionary with ``{O}``/``{U}`` hex
    placeholders, so tests can vary key ORDER (PDF dict order is
    arbitrary; a /CF sub-dict /Length can legally precede the top-level
    one)."""
    import hashlib
    import struct

    from mmore_spark.sources.registry import _PDF_PAD, _rc4

    def pad(pw: bytes) -> bytes:
        return (pw + _PDF_PAD)[:32]

    n = 16
    id0 = bytes(range(16, 32))
    # Algorithm 3 (R>=3): O entry from the owner password
    ok = hashlib.md5(pad(b"owner")).digest()
    for _ in range(50):
        ok = hashlib.md5(ok[:n]).digest()
    ok = ok[:n]
    o_entry = _rc4(ok, pad(b""))
    for i in range(1, 20):
        o_entry = _rc4(bytes(b ^ i for b in ok), o_entry)
    p_val = -3904
    key = hashlib.md5(_PDF_PAD + o_entry + struct.pack("<i", p_val)
                      + id0).digest()
    for _ in range(50):
        key = hashlib.md5(key[:n]).digest()
    key = key[:n]
    # Algorithm 5 (R>=3): U entry
    u = _rc4(key, hashlib.md5(_PDF_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    u_entry = u + b"\x00" * 16

    content = b"BT 72 720 Td (Aes secret) Tj ET"
    okey = hashlib.md5(key + struct.pack("<i", 1)[:3] + b"\x00\x00"
                       + b"sAlT").digest()[:16]
    iv = bytes(range(65, 81))
    padlen = 16 - len(content) % 16
    plain = content + bytes([padlen]) * padlen
    ct = b""
    prev = iv
    for i in range(0, len(plain), 16):
        blk = bytes(x ^ y for x, y in zip(plain[i:i + 16], prev))
        prev = _aes_encrypt_block(okey, blk)
        ct += prev
    enc_stream = iv + ct
    filled = (enc_dict
              .replace(b"{O}", o_entry.hex().encode())
              .replace(b"{U}", u_entry.hex().encode()))
    return (
        b"%PDF-1.6\n"
        + _streamobj(1, enc_stream)
        + b"9 0 obj << " + filled + b" >> endobj\n"
        + b"trailer << /Encrypt 9 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">] >>\n%%EOF\n"
    )


def test_parse_pdf_aesv2_encrypted_empty_user_password():
    """Round 4: V4 /AESV2 PDFs (AES-128-CBC, the Acrobat/Office default)
    with an empty user password decrypt via the stdlib cipher."""
    body = _build_aes_pdf(
        b"/Filter /Standard /V 4 /R 4 /Length 128 "
        b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF "
        b"/O <{O}> /U <{U}> /P -3904"
    )
    text, refs = registry.parse_pdf("/m/aes.pdf", body)
    assert text == "Aes secret" and refs == []


def test_parse_pdf_aesv2_cf_length_first():
    """Round 5 (ADVICE): the /CF sub-dict /Length (bytes, not bits) may
    precede the top-level /Length — the key size must still be 128-bit."""
    body = _build_aes_pdf(
        b"/Filter /Standard /V 4 /R 4 "
        b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF "
        b"/Length 128 /O <{O}> /U <{U}> /P -3904"
    )
    text, refs = registry.parse_pdf("/m/aes_cf_first.pdf", body)
    assert text == "Aes secret" and refs == []


def test_parse_pdf_aesv2_no_top_level_length():
    """Round 5 (ADVICE): a V4 dict with NO top-level /Length must not
    fall back to 40-bit — AESV2 keys are always 128-bit."""
    body = _build_aes_pdf(
        b"/Filter /Standard /V 4 /R 4 "
        b"/CF << /StdCF << /CFM /AESV2 >> >> /StmF /StdCF "
        b"/O <{O}> /U <{U}> /P -3904"
    )
    text, refs = registry.parse_pdf("/m/aes_nolen.pdf", body)
    assert text == "Aes secret" and refs == []


def test_parse_pdf_cid_tounicode():
    """CID text with a ToUnicode CMap must decode through the map: 2-byte
    hex codes via bfchar, bfrange (start-offset AND array forms), and a
    font switch back to a simple font mid-page (round 4)."""
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"begincmap\n"
            b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"2 beginbfchar\n"
            b"<0101> <0048>\n"          # H
            b"<0102> <00650078> \n"     # "ex" (two UTF-16 units)
            b"endbfchar\n"
            b"2 beginbfrange\n"
            b"<0200> <0202> <006C>\n"   # l m n
            b"<0300> <0301> [<0021> <003F>]\n"  # ! ?
            b"endbfrange\nendcmap\nend\n")
    content = (b"BT /F1 12 Tf <0101 0102 0200 0201 0202 0300 0301> Tj "
               b"0 -14 Td /F2 10 Tf (plain latin) Tj ET")
    payload = (
        b"%PDF-1.4\n"
        + _streamobj(4, content)
        + _streamobj(8, cmap)
        + b"6 0 obj << /Type /Font /Subtype /Type0 /ToUnicode 8 0 R >> endobj\n"
        + b"5 0 obj << /Font << /F1 6 0 R >> >> endobj\n"
        + b"2 0 obj << /Type /Page /Parent 7 0 R /Resources 5 0 R "
        + b"/Contents 4 0 R >> endobj\n"
        + b"7 0 obj << /Type /Pages /Kids [2 0 R] /Count 1 >> endobj\n"
        + b"1 0 obj << /Type /Catalog /Pages 7 0 R >> endobj\n"
        + b"%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/cid.pdf", payload)
    assert refs == []
    lines = text.split("\n")
    assert lines[0] == "Hexlmn!?"
    assert lines[1] == "plain latin"  # /F2 has no CMap -> latin-1 path
    # the ToUnicode stream's own bytes never leak into the text
    assert "bfchar" not in text


def test_parse_pdf_embedded_image_modalities():
    """VERDICT r02 #8: /Subtype /Image XObjects become <attachment>
    modalities (ref kept, pixels never decoded), positioned in reading
    order via the content stream's Do draw."""
    content = (b"BT 72 720 Td (Before image.) Tj ET "
               b"q 100 0 0 100 0 0 cm /Im1 Do Q "
               b"BT 72 600 Td (After image.) Tj ET")
    imgdata = b"\xff\xd8\xff\xe0FAKEJPEGPIXELS"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"4 0 obj << /Type /XObject /Subtype /Image /Width 8 /Height 8 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length " + str(len(imgdata)).encode() + b" >>\nstream\n"
        + imgdata + b"\nendstream\nendobj\n%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/img.pdf", body)
    assert refs == [("image", "/m/img.pdf#image0")]
    tag = registry.ATTACHMENT_TAG
    assert text.index("Before image.") < text.index(tag) < text.index("After image.")
    assert "FAKEJPEG" not in text  # pixel bytes never leak into text


def test_parse_pdf_image_only_keeps_modalities():
    """An image-only PDF (no text shows at all) must NOT raise: its spans
    are pure attachments."""
    imgdata = b"\x89PNGFAKE"
    content = b"q 10 0 0 10 0 0 cm /Im1 Do Q"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"2 0 obj << /Type /XObject /Subtype /Image /Width 4 /Height 4 "
        b"/Length " + str(len(imgdata)).encode() + b" >>\nstream\n"
        + imgdata + b"\nendstream\nendobj\n%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/io.pdf", body)
    assert refs == [("image", "/m/io.pdf#image0")]
    assert text == registry.ATTACHMENT_TAG


def test_parse_pdf_length_wins_over_eol_heuristics():
    """Round-3 fix: when the deflate data itself ends in 0x0d, stripping
    EOLs before 'endstream' corrupts the stream — the direct /Length in
    the dict is authoritative (PDF 32000-1 §7.3.8.2).  This payload's
    compressed form deterministically ends with 0x0d."""
    import zlib

    content = b"BT 72 720 Td (word 299 salt) Tj ET"
    comp = zlib.compress(content)
    assert comp.endswith(b"\r")  # the ambiguous case
    body = (
        b"%PDF-1.4\n1 0 obj << /Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + comp
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/len.pdf", body)
    assert text == "word 299 salt"


def test_pdf_literal_non_octal_and_unknown_escapes():
    """ADVICE r02: \\8 and \\9 are NOT octal — per spec the backslash is
    dropped and the character kept (the old code raised ValueError and
    failed the whole file); \\101 is octal 'A'; \\<newline> is a line
    continuation (both chars dropped)."""
    data = rb"(a\8b\9c\101d" + b"\\\ne)"
    s, i = registry._pdf_literal(data, 0)
    assert s == "a8b9cAde"
    assert i == len(data)
    # truncated literal ending in a lone backslash must not crash
    # (`'' in '01234567'` is True — the empty lookahead reached int('', 8))
    s2, _ = registry._pdf_literal(b"(abc\\", 0)
    assert s2 == "abc"


def test_parse_pdf_unsupported_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        registry.parse_pdf("/m/x.pdf", b"%PDF-fake no streams")


def test_parse_html_markdown_structure():
    """Round 4: parse_html mirrors the reference's markdownify pass —
    headings, list items, anchors and tables keep structure; script/
    style content is dropped; images stay positioned placeholders."""
    html = (b"<html><head><style>p{color:red}</style></head><body>"
            b"<h2>Section</h2><p>Intro <a href='http://x.y/z'>link</a> "
            b"<img src='a.png'> tail</p>"
            b"<ul><li>alpha</li><li>beta</li></ul>"
            b"<table><tr><th>name</th><th>qty</th></tr>"
            b"<tr><td>bolt</td><td>7</td></tr></table>"
            b"<script>var t='<b>not text</b>'</script></body></html>")
    text, refs = registry.parse_html("/m/s.html", html)
    assert refs == [("image", "a.png")]
    blocks = text.split("\n\n")
    assert blocks[0] == "## Section"
    assert blocks[1] == "Intro [link](http://x.y/z) "\
        + registry.ATTACHMENT_TAG + " tail"
    assert blocks[2] == "- alpha" and blocks[3] == "- beta"
    assert blocks[4] == "| name | qty |\n| --- | --- |\n| bolt | 7 |"
    assert "not text" not in text and "color:red" not in text
    # the rendered table is detected by the table-aware chunker
    from mmore_spark.operators.chunker import find_tables

    assert len(find_tables(text)) == 1


def test_parse_docx():
    """Reference semantics (docx_processor.py:50-133): paragraphs in
    document order, heading styles as markdown, inline images →
    attachment placeholders with resolved refs."""
    text, refs = registry.parse_docx("/m/r.docx", _make_docx())
    paras = text.split("\n\n")
    assert paras[0] == "# Quarterly Report"
    assert paras[1] == "Revenue grew steadily." + registry.ATTACHMENT_TAG
    assert len(paras) == 2  # blank paragraph dropped
    assert refs == [("image", "/m/r.docx#image1.png")]


def test_parse_docx_tables_and_sdt():
    """Round 4: w:tbl renders as a markdown table (header + separator +
    body rows — feeds the table-aware chunker, matching the reference's
    mammoth html→markdown path) and paragraphs wrapped in unknown
    containers (w:sdt) still extract."""
    W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

    def p(txt):
        return f'<w:p><w:r><w:t>{txt}</w:t></w:r></w:p>'

    def tc(txt):
        return f"<w:tc>{p(txt)}</w:tc>"

    xml = (
        f'<?xml version="1.0"?><w:document xmlns:w="{W}"><w:body>'
        + p("Before table.")
        + "<w:tbl>"
        + f"<w:tr>{tc('name')}{tc('qty')}</w:tr>"
        + f"<w:tr>{tc('bolt')}{tc('7')}</w:tr>"
        + f"<w:tr>{tc('nut')}{tc('3')}</w:tr>"
        + "</w:tbl>"
        + f"<w:sdt><w:sdtContent>{p('Wrapped paragraph.')}</w:sdtContent></w:sdt>"
        + "</w:body></w:document>"
    )
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", xml)
    text, refs = registry.parse_docx("/m/t.docx", buf.getvalue())
    assert refs == []
    blocks = text.split("\n\n")
    assert blocks[0] == "Before table."
    assert blocks[1] == ("| name | qty |\n| --- | --- |\n"
                         "| bolt | 7 |\n| nut | 3 |")
    assert blocks[2] == "Wrapped paragraph."
    # the rendered table is detected by the table-aware chunker
    from mmore_spark.operators.chunker import find_tables

    tables = find_tables(text)
    assert len(tables) == 1 and len(tables[0].body_rows) == 2


def test_parse_pptx():
    """Reference semantics (pptx_processor.py:45-116): slides in
    presentation order, shapes sorted by vertical position, pictures →
    placeholders, notes paragraphs appended after the slide's shapes."""
    text, refs = registry.parse_pptx("/m/d.pptx", _make_pptx())
    lines = text.split("\n")
    assert lines[0] == "Slide One Title"           # y=100 sorts first
    assert lines[1] == registry.ATTACHMENT_TAG     # picture at y=300
    assert lines[2] == "Below title"               # y=500
    assert lines[3] == "Speaker note here."        # notes after shapes
    assert lines[4] == "Second slide text"
    assert refs == [("image", "/m/d.pptx#pic1.png")]


def test_parse_eml():
    """Reference semantics (eml_processor.py:44-110): header lines +
    cleaned text/plain parts + image parts as attachment placeholders."""
    text, refs = registry.parse_eml("/m/a.eml", _make_eml())
    lines = text.split("\n")
    # the reference's cleantext flags substitute the literal
    # email@email.com; "<addr>" masks as one \S+ token
    assert lines[0] == "From: Alice Keller email@email.com"
    assert lines[1] == "To: Bruno Moreau email@email.com"
    assert lines[2] == "Subject: Quarterly sync"
    assert lines[3].startswith("Date: Mon, 10 Mar 2025")
    assert "the merger review is attached." in text  # whitespace collapsed
    assert registry.ATTACHMENT_TAG in text
    assert refs == [("image", "/m/a.eml#image0")]


def test_parse_xlsx():
    """Reference text shape (spreadsheet_processor.py:85-92): per sheet
    'Sheet: {name}\\n' + df.to_string(index=False), first row = header."""
    import pandas as pd

    text, refs = registry.parse_xlsx("/m/b.xlsx", _make_xlsx())
    assert refs == []
    df1 = pd.DataFrame([["widget", 3], ["gadget", 2.5]], columns=["name", "qty"])
    df2 = pd.DataFrame([["hello world"]], columns=["note"])
    expected = (
        "Sheet: Data\n" + df1.to_string(index=False) + "\n\n"
        "Sheet: Notes\n" + df2.to_string(index=False) + "\n\n"
    ).strip()
    assert text == expected


def test_parse_csv_tsv():
    text, _ = registry.parse_csv("/m/c.csv", b"a,b\n1,x\n2,y\n")
    import pandas as pd

    assert text == pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_string(index=False)
    text_t, _ = registry.parse_csv("/m/c.tsv", b"a\tb\n1\tx\n")
    assert "x" in text_t


def test_registry_routing_and_parse(spark, tmp_path):
    d = tmp_path / "files"
    os.makedirs(d)
    (d / "a.txt").write_text("simple   text file")
    (d / "b.md").write_text("# T\n\nbefore ![alt](img/x.png) after")
    (d / "c.html").write_text('<p>hi <img src="y.jpg"> there</p>')
    (d / "d.pdf").write_bytes(b"%PDF-fake")
    (d / "e.unknown").write_text("nope")
    (d / "f.eml").write_bytes(_make_eml())
    (d / "g.xlsx").write_bytes(_make_xlsx())
    (d / "h.csv").write_text("k,v\n1,a\n")
    (d / "i.docx").write_bytes(_make_docx())
    (d / "j.pptx").write_bytes(_make_pptx())

    parsed = registry.scan_and_parse(spark, str(d))
    rows = {os.path.basename(r["file_path"]): r for r in parsed.collect()}
    assert "e.unknown" not in rows  # unrouted
    assert rows["a.txt"]["text"] == "simple text file" and rows["a.txt"]["error"] is None
    assert registry.ATTACHMENT_TAG in rows["b.md"]["text"]
    assert rows["b.md"]["modalities"][0]["media_ref"] == "img/x.png"
    assert rows["c.html"]["modalities"][0]["media_ref"] == "y.jpg"
    assert "img" not in rows["c.html"]["text"]
    # the placeholder must SURVIVE tag stripping (round-3 fix: a literal
    # <attachment> substitution was itself eaten by the tag regex)
    assert registry.ATTACHMENT_TAG in rows["c.html"]["text"]
    # stubbed format fails per-file, not the job
    assert rows["d.pdf"]["error"] is not None and "NotImplementedError" in rows["d.pdf"]["error"]
    # real stdlib parsers route end-to-end through the Arrow stage
    assert rows["f.eml"]["error"] is None
    assert rows["f.eml"]["text"].startswith("From: Alice Keller")
    assert rows["f.eml"]["modalities"][0]["kind"] == "image"
    assert rows["g.xlsx"]["error"] is None
    assert rows["g.xlsx"]["text"].startswith("Sheet: Data")
    assert rows["h.csv"]["error"] is None and "a" in rows["h.csv"]["text"]
    assert rows["i.docx"]["error"] is None
    assert rows["i.docx"]["text"].startswith("# Quarterly Report")
    assert rows["j.pptx"]["error"] is None
    assert rows["j.pptx"]["modalities"][0]["kind"] == "image"

    docs = registry.to_documents(parsed)
    got = {r["doc_id"]: r for r in docs.collect()}
    md_doc = got[rows["b.md"]["doc_id"]]
    kinds = [s["kind"] for s in md_doc["spans"]]
    assert "image" in kinds and "text" in kinds


def test_parse_pdf_image_only_degrades_to_page_spans():
    """VERDICT r04 #1: a scanned/image-only PDF (DCT image streams, no
    text operators) must yield one page-image media span per page with
    empty text — never an error row."""
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 64  # opaque DCT payload
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R >> endobj\n"
        + _streamobj(4, jpeg, b"/Subtype /Image /Filter /DCTDecode ")
        + b"5 0 obj << /Type /Page /Parent 2 0 R >> endobj\n"
        + _streamobj(6, jpeg, b"/Subtype /Image /Filter /DCTDecode ")
        + b"%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/scan.pdf", body)
    # image XObjects take precedence over the page fallback: one media
    # span PER IMAGE (the reference's extracted-images shape)
    assert refs == [("image", "/m/scan.pdf#image0"),
                    ("image", "/m/scan.pdf#image1")]
    from mmore_spark.corpus.generator import ATTACHMENT_TAG
    assert text == f"{ATTACHMENT_TAG}\n{ATTACHMENT_TAG}"


def test_parse_pdf_cid_without_tounicode_degrades():
    """A Type0 (CID) font with NO ToUnicode CMap shows opaque codes:
    strings must DROP (not decode to latin-1 mojibake), and an all-CID
    document degrades to page media spans."""
    content = b"BT /F1 12 Tf <00480065006C> Tj ET"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
        + _streamobj(4, content)
        + b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /NoMap "
        b"/Encoding /Identity-H >> endobj\n"
        b"%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/cid.pdf", body)
    from mmore_spark.corpus.generator import ATTACHMENT_TAG
    assert text == ATTACHMENT_TAG
    assert refs == [("image", "/m/cid.pdf#page0")]


def test_parse_pdf_mixed_cid_and_simple_pages():
    """CID-opaque strings drop but a simple-font page in the same doc
    still extracts — degradation is per-show, the doc keeps its text."""
    cid_content = b"BT /F1 12 Tf <0048> Tj ET"
    txt_content = b"BT (Readable page) Tj ET"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
        + _streamobj(4, cid_content)
        + b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /NoMap >> endobj\n"
        b"6 0 obj << /Type /Page /Parent 2 0 R /Contents 7 0 R >> endobj\n"
        + _streamobj(7, txt_content)
        + b"%%EOF\n"
    )
    text, refs = registry.parse_pdf("/m/mixed.pdf", body)
    assert "Readable page" in text
    assert "\x00" not in text and "H" not in text.replace("Readable", "")
    assert refs == []


def test_parse_pdf_garbage_still_raises():
    """Degradation must not swallow non-PDF payloads: no object headers
    means no document, and the per-file error row stays."""
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        registry.parse_pdf("/m/junk.pdf", b"this is not a pdf at all")


def _make_ttf_cmap4(char_to_gid: dict) -> bytes:
    """Minimal TrueType: sfnt header + ONE table ('cmap') holding a single
    format-4 subtable under the (3,1) windows-unicode encoding."""
    import struct

    segs = [(ord(c), ord(c), g) for c, g in sorted(char_to_gid.items())]
    segs.append((0xFFFF, 0xFFFF, 0))
    segc = len(segs)
    sub = struct.pack(">HHHHHHH", 4, 16 + 8 * segc, 0, segc * 2, 0, 0, 0)
    sub += b"".join(struct.pack(">H", e) for _s, e, _g in segs)
    sub += struct.pack(">H", 0)  # reservedPad
    sub += b"".join(struct.pack(">H", s) for s, _e, _g in segs)
    sub += b"".join(struct.pack(">H", (g - s) & 0xFFFF) for s, _e, g in segs)
    sub += struct.pack(f">{segc}H", *([0] * segc))  # idRangeOffset
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 1, 12) + sub
    header = struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
    record = struct.pack(">4sIII", b"cmap", 0, 28, len(cmap))
    return header + record + cmap


def test_parse_pdf_cid_recovered_from_embedded_truetype_cmap():
    """Round 5: an Identity-H CIDFontType2 WITHOUT ToUnicode but WITH an
    embedded TrueType (/FontFile2) recovers text by inverting the font's
    own cmap (CID == GID under /CIDToGIDMap /Identity)."""
    text = "Cid ok"
    char_to_gid = {c: i + 1 for i, c in enumerate(dict.fromkeys(text))}
    ttf = _make_ttf_cmap4(char_to_gid)
    codes = "".join(f"{char_to_gid[c]:04x}" for c in text)
    content = f"BT /F1 12 Tf <{codes}> Tj ET".encode()
    body = (
        b"%PDF-1.5\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
        + _streamobj(4, content)
        + b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Emb "
        b"/Encoding /Identity-H /DescendantFonts [6 0 R] >> endobj\n"
        b"6 0 obj << /Type /Font /Subtype /CIDFontType2 "
        b"/FontDescriptor 7 0 R /CIDToGIDMap /Identity >> endobj\n"
        b"7 0 obj << /Type /FontDescriptor /FontName /Emb "
        b"/FontFile2 8 0 R >> endobj\n"
        + _streamobj(8, ttf)
        + b"%%EOF\n"
    )
    got, refs = registry.parse_pdf("/m/embcid.pdf", body)
    assert got == text and refs == []


def test_ttf_cmap_format12_inversion():
    """The format-12 (segmented coverage) branch: supplementary-plane
    groups invert too."""
    import struct

    from mmore_spark.sources.registry import _ttf_gid_to_unicode

    groups = [(0x41, 0x43, 10), (0x1F600, 0x1F601, 50)]
    sub = struct.pack(">HHIII", 12, 0, 16 + 12 * len(groups), 0, len(groups))
    for sc, ec, sg in groups:
        sub += struct.pack(">III", sc, ec, sg)
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 10, 12) + sub
    header = struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 0)
    record = struct.pack(">4sIII", b"cmap", 0, 28, len(cmap))
    g2u = _ttf_gid_to_unicode(header + record + cmap)
    assert g2u[10] == "A" and g2u[12] == "C" and g2u[50] == "\U0001F600"


def test_parse_pdf_cid_with_gidmap_stream():
    """A /CIDToGIDMap STREAM (2-byte big-endian GIDs indexed by CID)
    composes with the embedded TrueType's inverted cmap: CID→GID→unicode."""
    import struct

    text = "Map ok"
    uniq = list(dict.fromkeys(text))
    # GIDs deliberately NOT equal to CIDs: gid = 100 + i, cid = i + 1
    char_to_gid = {c: 100 + i for i, c in enumerate(uniq)}
    char_to_cid = {c: i + 1 for i, c in enumerate(uniq)}
    ttf = _make_ttf_cmap4(char_to_gid)
    n_cids = len(uniq) + 1
    gidmap = bytearray(2 * n_cids)
    for c in uniq:
        struct.pack_into(">H", gidmap, 2 * char_to_cid[c], char_to_gid[c])
    codes = "".join(f"{char_to_cid[c]:04x}" for c in text)
    content = f"BT /F1 12 Tf <{codes}> Tj ET".encode()
    body = (
        b"%PDF-1.5\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
        + _streamobj(4, content)
        + b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Emb "
        b"/Encoding /Identity-H /DescendantFonts [6 0 R] >> endobj\n"
        b"6 0 obj << /Type /Font /Subtype /CIDFontType2 "
        b"/FontDescriptor 7 0 R /CIDToGIDMap 9 0 R >> endobj\n"
        b"7 0 obj << /Type /FontDescriptor /FontName /Emb "
        b"/FontFile2 8 0 R >> endobj\n"
        + _streamobj(8, ttf)
        + _streamobj(9, bytes(gidmap))
        + b"%%EOF\n"
    )
    got, refs = registry.parse_pdf("/m/gidmap.pdf", body)
    assert got == text and refs == []
