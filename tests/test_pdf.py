"""Baseline PDF text extraction (kernels/pdf.py + operators/pdftext.py):
writer round-trips, a hand-crafted wire vector (pinning the reader
independently of our own writer), escape/hex/octal handling, the
corrupt/encrypted contracts, and the distributed operator vs the
source-text gold."""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rex_spark.kernels.pdf import encode_pdf, extract_pdf_text


def test_pdf_roundtrip_multipage_both_stream_kinds():
    pages = [
        ["hello world", "second (line) with \\ backslash", "third"],
        ["page two starts", "and ends"],
        ["lone"],
    ]
    for compress in (True, False):
        assert extract_pdf_text(encode_pdf(pages, compress=compress)) == [
            "\n".join(p) for p in pages
        ]


_text_line = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=1, max_size=40,
).map(str.strip).filter(bool)


@given(pages=st.lists(st.lists(_text_line, min_size=1, max_size=4),
                      min_size=1, max_size=3))
@settings(max_examples=40, deadline=None)
def test_pdf_roundtrip_property(pages):
    assert extract_pdf_text(encode_pdf(pages)) == ["\n".join(p) for p in pages]


def _obj(num: int, body: bytes) -> bytes:
    return b"%d 0 obj\n" % num + body + b"\nendobj\n"


def test_pdf_crafted_wire_vector():
    """Hand-built PDF, never touched by encode_pdf: hex-string show,
    the ' next-line operator, octal + named escapes, a TJ array with
    kerning, and Tm-based positioning — the reader must produce the
    spec-implied text."""
    content = (
        b"BT /F1 10 Tf 72 700 Td\n"
        b"<48656C6C6F> Tj\n"            # 'Hello' as a hex string
        b"0 -12 Td [(wo) -120 (rld)] TJ\n"  # kerned TJ -> 'world'
        b"(2nd\\nline \\101\\102) '\n"      # ' = newline + show; \101\102=AB
        b"1 0 0 1 72 650 Tm (moved) Tj\n"   # Tm repositions -> newline
        b"ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        + _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
        + _obj(4, b"<< /Length %d >>\nstream\n" % len(content)
               + content + b"\nendstream")
        + b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["Hello\nworld\n2nd\nline AB\nmoved"]


def test_pdf_contents_array_and_empty_page():
    """/Contents may be an ARRAY of streams (concatenated), and a page
    with no /Contents extracts as empty text."""
    c1, c2 = b"BT (part one) Tj ET", b"BT 0 -12 Td (part two) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        + _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _obj(2, b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >>")
        + _obj(3, b"<< /Type /Page /Contents [4 0 R 5 0 R] >>")
        + _obj(4, b"<< /Length %d >>\nstream\n" % len(c1) + c1 + b"\nendstream")
        + _obj(5, b"<< /Length %d >>\nstream\n" % len(c2) + c2 + b"\nendstream")
        + _obj(6, b"<< /Type /Page >>")
        + b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["part one\npart two", ""]


def test_pdf_contents_array_with_one_missing_ref_is_corrupt():
    """A /Contents array whose refs only PARTLY resolve must not
    extract as status ok with the surviving stream's text: any missing
    ref makes the document corrupt."""
    from rex_spark.operators.pdftext import pdf_text_row

    c1 = b"BT (part one) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        + _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _obj(3, b"<< /Type /Page /Contents [4 0 R 9 0 R] >>")
        + _obj(4, b"<< /Length %d >>\nstream\n" % len(c1) + c1 + b"\nendstream")
        + b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    with pytest.raises(ValueError):
        extract_pdf_text(pdf)
    assert pdf_text_row(7, pdf) == (7, "corrupt", None, None, None)


def test_pdf_corrupt_and_encrypted_contracts():
    pay = encode_pdf([["alpha", "beta"], ["gamma"]])
    for bad in (b"", b"not a pdf", pay[: len(pay) // 3], pay[:60]):
        with pytest.raises(ValueError):
            extract_pdf_text(bad)
    enc = pay.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R", 1)
    with pytest.raises(NotImplementedError):
        extract_pdf_text(enc)
    # unsupported filter -> NotImplementedError, not silent garbage
    other = pay.replace(b"/Filter /FlateDecode", b"/Filter /LZWDecode", 1)
    with pytest.raises(NotImplementedError):
        extract_pdf_text(other)


def test_pdf_fixture_statuses_are_planted_and_corrupt_is_corrupt():
    """Every planted truncation must actually raise (no truncation
    point may accidentally still parse) and every /Encrypt plant must
    hit the unsupported path, across the whole oracle corpus size."""
    from rex_spark.operators.pdftext import (
        expected_pdf_row,
        make_pdf_payload,
        pdf_text_row,
    )

    statuses = set()
    for i in range(150):
        row = pdf_text_row(i, make_pdf_payload(i))
        assert row == expected_pdf_row(i), i
        statuses.add(row[1])
    assert statuses == {"ok", "unsupported", "corrupt"}


def test_pdf_operator_distributed_matches_source_gold(spark):
    from rex_spark.operators.pdftext import (
        expected_pdf_row,
        extract_pdf_texts,
        make_pdf_corpus,
        pdf_source_text,
    )

    rows = {
        r["doc_id"]: r
        for r in extract_pdf_texts(make_pdf_corpus(spark, 40)).collect()
    }
    assert len(rows) == 40
    for i in range(40):
        want = expected_pdf_row(i)
        got = rows[i]
        assert (
            got["doc_id"], got["status"], got["n_pages"],
            got["n_chars"], got["text_md5"],
        ) == want
        if want[1] == "ok":
            md5 = hashlib.md5(pdf_source_text(i).encode()).hexdigest()
            assert got["text_md5"] == md5


def test_pdf_utf16be_text_string():
    """BOM-prefixed UTF-16BE hex strings (the convention CJK
    generators emit) decode to unicode; mixed pages round-trip."""
    from rex_spark.kernels.pdf import encode_pdf, extract_pdf_text

    pages = [["阿里巴巴位于杭州。", "ascii line"], ["第二页"]]
    assert extract_pdf_text(encode_pdf(pages)) == ["\n".join(p) for p in pages]
    content = b"BT <FEFF963F91CC> Tj ET"  # U+963F U+91CC
    pdf = (
        b"%PDF-1.4\n"
        + _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _obj(3, b"<< /Type /Page /Contents 4 0 R >>")
        + _obj(4, b"<< /Length %d >>\nstream\n" % len(content)
               + content + b"\nendstream")
        + b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["阿里"]


def test_pdf_accidental_obj_markers_inside_stream_data():
    """Raw stream data containing 'N G obj' / 'endobj' byte sequences
    must not shadow real objects or truncate the enclosing object."""
    content = (
        b"BT (before) Tj ET\n"
        b"% raw data that LOOKS like structure:\n"
        b"9 0 obj << /Fake true >> endobj\n"
        b"BT 0 -12 Td (after) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        + _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _obj(3, b"<< /Type /Page /Contents 4 0 R >>")
        + _obj(4, b"<< /Length %d >>\nstream\n" % len(content)
               + content + b"\nendstream")
        + b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["before\nafter"]


def test_pdf_non_octal_backslash_escapes():
    """\\8 and \\9 are NOT octal: per spec the backslash before a
    non-escape char is dropped and the char kept (a real-world PDF
    with (a\\8b) must extract as 'a8b', not flag corrupt)."""
    content = b"BT (a\\8b\\9c\\101) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        + _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        + _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        + _obj(3, b"<< /Type /Page /Contents 4 0 R >>")
        + _obj(4, b"<< /Length %d >>\nstream\n" % len(content)
               + content + b"\nendstream")
        + b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == ["a8b9cA"]


def test_pdf_fuzz_exception_contract():
    """Random byte flips + every truncation band on a real fixture
    payload: extract_pdf_text raises ONLY ValueError or
    NotImplementedError (or succeeds) — the status-row layer
    (pdf_text_row) catches exactly those, so any other exception type
    would fail a whole Spark stage."""
    import random

    from rex_spark.operators.pdftext import make_pdf_payload

    r = random.Random(11)
    pay = bytearray(make_pdf_payload(0))
    for _ in range(500):
        b = bytearray(pay)
        for _ in range(r.randint(1, 4)):
            b[r.randrange(len(b))] = r.randrange(256)
        try:
            extract_pdf_text(bytes(b))
        except (ValueError, NotImplementedError):
            pass
    for n in range(0, len(pay), 17):
        try:
            extract_pdf_text(bytes(pay[:n]))
        except (ValueError, NotImplementedError):
            pass
