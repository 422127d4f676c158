"""Pure-stdlib baseline PDF text extraction (and a writer for
fixtures).

A 100 TB web corpus carries PDFs as its most common non-HTML document
format; the text plane needs their text the same way html_to_text
needs the page body.  This module handles the BASELINE subset that is
exactly decodable with ``zlib`` + ``re``: unencrypted PDFs whose page
content streams are raw or FlateDecode, with text shown via the
standard operators (Tj, TJ, ', ") in literal or hex strings.  The
deployment build swaps in a full parser (pdfium/poppler) for the rest
— ``extract_pdf_text`` raises NotImplementedError for /Encrypt and
non-Flate content filters, ValueError for corrupt payloads, mirroring
kernels/codecs.py's contract so the operator layer can reuse the
status-row pattern.

Object resolution scans ``N G obj ... endobj`` spans directly instead
of trusting the xref table — real-world PDFs ship broken xrefs far
more often than broken object headers, and scanning is one pass.

No reference analog: Spico197/REx is HTML/text-only; document formats
are first-class here per the builder's brief.
"""

from __future__ import annotations

import re
import zlib

# ---------------------------------------------------------------------------
# writer (fixture): one page per text string, one text line per Tj
# ---------------------------------------------------------------------------


def _escape_literal(s: str) -> bytes:
    out = s.encode("latin-1")
    return (
        out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def _show_string(s: str) -> bytes:
    """A show-operand for one line: Latin-1 literal when it fits, else
    a BOM-prefixed UTF-16BE hex string (the PDF text-string convention
    for non-Latin-1 content — what CJK generators emit)."""
    try:
        return b"(" + _escape_literal(s) + b")"
    except UnicodeEncodeError:
        return b"<" + (b"\xfe\xff" + s.encode("utf-16-be")).hex().encode() + b">"


def _content_stream(lines: list[str], use_tj_array: bool) -> bytes:
    """BT / per-line Td+show / ET.  With ``use_tj_array`` every other
    line is shown as a TJ array split in two chunks with a kerning
    number — the operator a real layout engine emits constantly."""
    parts = [b"BT\n/F1 12 Tf\n72 720 Td\n"]
    for k, line in enumerate(lines):
        if k > 0:
            parts.append(b"0 -14 Td\n")
        if use_tj_array and k % 2 == 1 and len(line) > 2:
            cut = len(line) // 2
            parts.append(
                b"[" + _show_string(line[:cut]) + b" -250 "
                + _show_string(line[cut:]) + b"] TJ\n"
            )
        else:
            parts.append(_show_string(line) + b" Tj\n")
    parts.append(b"ET\n")
    return b"".join(parts)


def encode_pdf(pages_lines: list[list[str]], compress: bool = True) -> bytes:
    """Minimal PDF 1.4: ``pages_lines[p]`` = the text lines of page p.
    Content streams FlateDecode'd when ``compress`` (odd pages stay raw
    even then, so both stream paths appear in every multi-page file)."""
    if not pages_lines:
        raise ValueError("encode_pdf wants at least one page")
    objects: list[bytes] = []  # 1-indexed

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    n_pages = len(pages_lines)
    # object layout: 1 catalog, 2 pages, 3 font, then per page (page, content)
    page_ids = [4 + 2 * p for p in range(n_pages)]
    kids = b"[" + b" ".join(b"%d 0 R" % pid for pid in page_ids) + b"]"
    add(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    add(b"<< /Type /Pages /Kids " + kids + b" /Count %d >>" % n_pages)  # 2
    add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")  # 3
    for p, lines in enumerate(pages_lines):
        content = _content_stream(lines, use_tj_array=p % 2 == 0)
        flate = compress and p % 2 == 0
        data = zlib.compress(content) if flate else content
        filt = b" /Filter /FlateDecode" if flate else b""
        add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (page_ids[p] + 1)
        )
        add(
            b"<< /Length %d%s >>\nstream\n" % (len(data), filt)
            + data + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_REF_RE = re.compile(rb"^(\d+)\s+(\d+)\s+R", re.S)


def _scan_objects(payload: bytes) -> dict[int, bytes]:
    """{obj_num: body_bytes} by scanning obj...endobj spans.  Matches
    that start INSIDE a previously-found object's span are skipped —
    compressed stream bytes can contain an accidental ``N G obj``
    sequence, which must not shadow a real object."""
    objs: dict[int, bytes] = {}
    last_end = 0
    for m in _OBJ_RE.finditer(payload):
        if m.start() < last_end:
            continue
        end = payload.find(b"endobj", m.end())
        if end < 0:
            continue  # a truncated tail object; keep whatever parsed
        s = payload.find(b"stream", m.end())
        if 0 <= s < end:
            # stream object: the data may contain an accidental
            # 'endobj'; the real one follows 'endstream'
            es = payload.find(b"endstream", s)
            if es < 0:
                continue
            end = payload.find(b"endobj", es)
            if end < 0:
                continue
        objs[int(m.group(1))] = payload[m.end():end]
        last_end = end + len(b"endobj")
    if not objs:
        raise ValueError("no PDF objects found")
    return objs


def _dict_span(body: bytes) -> bytes:
    """The top-level << ... >> of an object body (balanced scan)."""
    start = body.find(b"<<")
    if start < 0:
        return b""
    depth = 0
    i = start
    while i < len(body) - 1:
        pair = body[i : i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    raise ValueError("unbalanced PDF dictionary")


def _dict_value(d: bytes, key: bytes) -> bytes | None:
    """Raw value bytes for /key in a dict span (up to the next /key at
    the same nesting depth); None if absent."""
    m = re.search(re.escape(b"/" + key) + rb"[\s/<\[(]", d)
    if not m:
        return None
    i = m.end() - 1
    depth_sq = depth_ang = 0
    out_start = i
    while i < len(d):
        two = d[i : i + 2]
        ch = d[i : i + 1]
        if two == b"<<":
            depth_ang += 1
            i += 2
            continue
        if two == b">>":
            if depth_ang == 0:
                break
            depth_ang -= 1
            i += 2
            continue
        if ch == b"[":
            depth_sq += 1
        elif ch == b"]":
            if depth_sq == 0:
                break
            depth_sq -= 1
        elif ch == b"/" and depth_sq == 0 and depth_ang == 0 and i > out_start:
            # next key at top level (a value that IS a name keeps i ==
            # out_start on its leading slash)
            if d[out_start:i].strip():
                break
        i += 1
    return d[out_start:i].strip()


def _resolve(val: bytes, objs: dict[int, bytes]) -> bytes:
    """Follow ``N G R`` indirection one hop."""
    m = _REF_RE.match(val.strip()) if val else None
    if m:
        num = int(m.group(1))
        if num not in objs:
            raise ValueError(f"dangling PDF reference {num}")
        return objs[num]
    return val or b""


def _stream_data(body: bytes) -> bytes:
    """Decoded bytes of a stream object (raw or FlateDecode)."""
    d = _dict_span(body)
    s = body.find(b"stream")
    if s < 0:
        raise ValueError("PDF content object has no stream")
    s += len(b"stream")
    if body[s : s + 2] == b"\r\n":
        s += 2
    elif body[s : s + 1] in (b"\n", b"\r"):
        s += 1
    e = body.rfind(b"endstream")
    if e < 0:
        raise ValueError("unterminated PDF stream")
    data = body[s:e]
    if data.endswith(b"\n"):
        data = data[:-1]
    filt = _dict_value(d, b"Filter")
    if filt is None:
        return data
    if b"FlateDecode" in filt:
        try:
            return zlib.decompress(data)
        except zlib.error as exc:
            raise ValueError(f"bad FlateDecode stream: {exc}") from exc
    raise NotImplementedError(
        f"unsupported PDF stream filter {filt.decode('latin-1', 'replace')}"
    )


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _parse_literal(data: bytes, i: int) -> tuple[bytes, int]:
    """Literal string starting at data[i] == '('; returns (bytes, next_i)."""
    assert data[i : i + 1] == b"("
    i += 1
    depth = 1
    out = bytearray()
    while i < len(data):
        ch = data[i : i + 1]
        if ch == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt and nxt in b"01234567":  # \ooo octal, 1-3 digits
                j = i + 1
                while j < min(i + 4, len(data)) and data[j] in b"01234567":
                    j += 1
                out.append(int(data[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                i += 1  # lone backslash: drop per spec
        elif ch == b"(":
            depth += 1
            out += ch
            i += 1
        elif ch == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out += ch
            i += 1
        else:
            out += ch
            i += 1
    raise ValueError("unterminated PDF literal string")


def _parse_hex(data: bytes, i: int) -> tuple[bytes, int]:
    assert data[i : i + 1] == b"<"
    end = data.find(b">", i)
    if end < 0:
        raise ValueError("unterminated PDF hex string")
    hx = re.sub(rb"\s", b"", data[i + 1 : end])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), end + 1


_LINEBREAK_OPS = (b"Td", b"TD", b"T*", b"Tm")


def _decode_shown(s: bytes) -> str:
    """One shown string -> text: BOM-prefixed UTF-16BE (the PDF
    text-string convention CJK generators emit) else Latin-1."""
    if s.startswith(b"\xfe\xff"):
        return s[2:].decode("utf-16-be", errors="replace")
    return s.decode("latin-1")


def _extract_stream_text(data: bytes) -> str:
    """Text shown by one content stream.  A newline is emitted between
    shows separated by a text-positioning operator (Td/TD/T*/Tm) or by
    the ' / \" next-line-show operators — the baseline layout model
    (one show per line), matching encode_pdf exactly and degrading to
    newline-separated runs on foreign layouts."""
    out: list[str] = []
    pending_break = False
    in_text = False
    i = 0

    def show(s: bytes, breaking: bool) -> None:
        # no pending break -> concatenate (TJ-array continuation)
        nonlocal pending_break
        if out and (pending_break or breaking):
            out.append("\n")
        out.append(_decode_shown(s))
        pending_break = False

    while i < len(data):
        ch = data[i : i + 1]
        if ch in (b"(", b"<") and data[i : i + 2] != b"<<":
            s, i = (_parse_literal if ch == b"(" else _parse_hex)(data, i)
            if not in_text:
                continue
            # the token after the string decides what this string is:
            # Tj / ' / " show it; inside a TJ array the next token is a
            # kerning number, another string, or the closing ] TJ
            m = re.match(rb"\s*(\]\s*TJ|Tj|'|\")", data[i:])
            show(s, breaking=bool(m) and m.group(1) in (b"'", b'"'))
            continue
        if ch.isspace():
            i += 1
            continue
        m = re.match(
            rb"[A-Za-z'\"*]+|<<|>>|\[|\]|[-+.0-9]+|/[^\s/\[\]()<>]*", data[i:]
        )
        if not m:
            i += 1
            continue
        tok = m.group(0)
        i += len(tok)
        if tok == b"BT":
            in_text = True
            pending_break = bool(out)
        elif tok == b"ET":
            in_text = False
        elif tok in _LINEBREAK_OPS:
            pending_break = True
    return "".join(out)


def extract_pdf_text(payload: bytes) -> list[str]:
    """Per-page extracted text of a baseline PDF (list of page strings).

    Raises ValueError for corrupt payloads, NotImplementedError for
    /Encrypt or non-Flate stream filters (the deployment-build seam)."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF")
    if re.search(rb"/Encrypt\s+\d+\s+\d+\s+R|/Encrypt\s*<<", payload):
        raise NotImplementedError("encrypted PDF needs a full parser")
    objs = _scan_objects(payload)
    root = pages = None
    for body in objs.values():
        d = _dict_span(body) if b"<<" in body else b""
        if not d:
            continue
        typ = _dict_value(d, b"Type") or b""
        if typ.startswith(b"/Catalog"):
            root = d
            break
    if root is not None:
        pages_ref = _dict_value(root, b"Pages")
        pages = _dict_span(_resolve(pages_ref, objs)) if pages_ref else None
    if pages is None:
        raise ValueError("PDF has no /Catalog -> /Pages")
    kids_val = _dict_value(pages, b"Kids") or b""
    kid_ids = [int(n) for n, _g in re.findall(rb"(\d+)\s+(\d+)\s+R", kids_val)]
    if not kid_ids:
        raise ValueError("PDF /Pages has no /Kids")
    texts = []
    for kid in kid_ids:
        if kid not in objs:
            raise ValueError(f"missing page object {kid}")
        page = _dict_span(objs[kid])
        contents = _dict_value(page, b"Contents")
        if contents is None:
            texts.append("")
            continue
        # /Contents may be one ref or an array of refs
        refs = [int(n) for n, _g in re.findall(rb"(\d+)\s+(\d+)\s+R", contents)]
        # a missing stream would make the page's text silently partial
        if any(r not in objs for r in refs):
            raise ValueError("page /Contents references missing objects")
        data = b"".join(_stream_data(objs[r]) for r in refs)
        texts.append(_extract_stream_text(data))
    return texts
