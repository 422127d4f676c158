"""Text-plane kernels: boilerplate strip, sentence segmentation, tokenization.

Reference parity:
- ``sent_seg`` re-expresses the splitting semantics of
  ``/root/reference/rex/utils/segmentation.py:9-79`` (behavior pinned by
  ``/root/reference/tests/utils/test_segmentation.py:6-23``): insert a
  break after every run of sentence-final punctuation (plus trailing
  quotation marks when ``quotation_seg_mode``), strip each piece, drop
  empties.  The reference's final filter expression reduces to
  "keep all non-empty stripped pieces" (its ``len==1 and not punkt``
  clause is always overridden by the ``or len>0`` arm), and the pinned
  tests confirm single-punctuation sentences are kept.
- ``tokenize`` re-expresses the converter tokenizers
  (``data/NYT10/convert.py:16`` whitespace+lower, ``data/CMED/convert.py:15``
  per-character for zh).
- ``html_to_text`` has no reference implementation (REx starts from
  extracted text); it is *our* pinned deterministic contract for the
  pages->docs stage (BASELINE.json input_hint: byte-identical
  extracted text per url).  stdlib-only, version-independent.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import List, Optional, Sequence, Set, Tuple

# ---------------------------------------------------------------------------
# Boilerplate strip (F12)
# ---------------------------------------------------------------------------

# Subtrees that never contribute body text on Common-Crawl-style pages.
_SKIP_SUBTREES = frozenset(
    {"script", "style", "nav", "header", "footer", "aside", "head",
     "noscript", "template", "svg", "form", "iframe"}
)
# Tags that imply a line boundary around their content.
_BLOCK_TAGS = frozenset(
    {"p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
     "tr", "table", "section", "article", "main", "blockquote", "pre", "hr",
     "dd", "dt", "figure", "figcaption", "body", "html", "title"}
)

_WS_RUN = re.compile(r"[ \t\r\f\v\u00a0]+")


class _TextExtractor(HTMLParser):
    """Streaming extractor: collect visible text, block tags break lines."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._parts: List[str] = []  # text fragments and "\n" markers

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_SUBTREES:
            self._skip_depth += 1
        elif tag in _BLOCK_TAGS and self._skip_depth == 0:
            self._parts.append("\n")

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_SUBTREES:
            if self._skip_depth > 0:
                self._skip_depth -= 1
        elif tag in _BLOCK_TAGS and self._skip_depth == 0:
            self._parts.append("\n")

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in _BLOCK_TAGS and self._skip_depth == 0:
            self._parts.append("\n")

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._parts.append(data)

    def text(self) -> str:
        lines: List[str] = []
        buf: List[str] = []
        for part in self._parts:
            if part == "\n":
                line = _WS_RUN.sub(" ", "".join(buf)).strip()
                if line:
                    lines.append(line)
                buf = []
            else:
                buf.append(part)
        line = _WS_RUN.sub(" ", "".join(buf)).strip()
        if line:
            lines.append(line)
        return "\n".join(lines)


def _html_to_text_reference(html: str) -> str:
    """The pinned reference implementation (stdlib HTMLParser)."""
    parser = _TextExtractor()
    parser.feed(html)
    parser.close()
    return parser.text()


# One tag token: optional end-slash, tag name, attributes, optional
# self-closing slash.  Attributes are read as HTMLParser reads them: an
# '=' and its value (quoted, which may hold '>', or bare, which may end
# in '/') only right after a name, atomically like its greedy scan.  A
# '<', or an '=' or quote anywhere else, fails the match and the fast
# path bails (HTMLParser ends '<E ">">' and '<x ="a>b">' at the first
# '>').  Tag-name charset is stricter than HTMLParser's — anything
# outside it makes the fast path bail to the reference parser, as does
# an attribute section that doesn't start with whitespace or '/' (see
# _fast_parts).
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:_-]*)"
    r"((?:(?<=[\s/\"'])(?>[^\s\"'<>=/]+\s*=+\s*(?:\"[^\"]*\"|'[^']*'|(?![\"'])[^<>\s]*))"
    r"|[^<>\"'=])*?)(/?)>"
)
# HTMLParser's endtagfind only accepts '</ name >' (optional whitespace)
# as a CDATA terminator; '</script foo>' / '</script/>' are swallowed as
# CDATA data and the parser STAYS in CDATA mode — so the fast path must
# only leave CDATA on a bare close tag.  (A matched '</ script >' with
# inner whitespace then fails _TAG_RE and falls back to the reference.)
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script(?=\s*>)", re.I),
    "style": re.compile(r"</\s*style(?=\s*>)", re.I),
}


def _fast_parts(html: str):
    """Single-pass tag scanner; returns the same parts stream the
    HTMLParser path produces, or None when the input uses constructs
    (comments, doctype, PI, CDATA blocks, exotic tag syntax) where
    only the reference parser guarantees identical behavior.

    Implementation: one C-level ``finditer`` over the tag regex; any
    ``<`` that survives in the text BETWEEN matches is, by
    construction, a construct the regex refused (stray ``<``,
    unterminated tag, ``<!``/``<?``, a bogus CDATA close) -> bail to
    the reference parser.  CDATA regions advance ``pos``/``skip_to``
    past the content so their ``<`` bytes are never inspected (the
    reference jumps the same way)."""
    parts: List[str] = []
    append = parts.append
    skip_depth = 0
    pos, n = 0, len(html)
    skip_to = 0
    has_amp = "&" in html
    for m in _TAG_RE.finditer(html):
        start = m.start()
        if start < skip_to:
            continue  # inside a CDATA region already consumed
        gap = html[pos:start]
        if "<" in gap:
            return None  # stray '<' / '<!' / '<?' / unterminated tag
        if gap and skip_depth == 0:
            append(gap)
        end_slash, name, _attrs, self_close = m.groups()
        if _attrs and _attrs[0] not in " \t\n\r\f/":
            # junk glued to the tag name (<E'...>): HTMLParser's
            # tolerant scanner may call this bogus data — reference only
            return None
        if end_slash and ('"' in _attrs or "'" in _attrs):
            return None  # HTMLParser ends an end tag at its first '>'
        tag = name.lower()
        if end_slash:
            if tag in _SKIP_SUBTREES:
                if skip_depth > 0:
                    skip_depth -= 1
            elif tag in _BLOCK_TAGS and skip_depth == 0:
                append("\n")
        elif self_close:
            if tag in _BLOCK_TAGS and skip_depth == 0:
                append("\n")
        else:
            if tag in _SKIP_SUBTREES:
                skip_depth += 1
            elif tag in _BLOCK_TAGS and skip_depth == 0:
                append("\n")
            if tag in _CDATA_CLOSE:
                # HTMLParser treats script/style content as CDATA: no
                # nested tag events until the literal close tag
                c = _CDATA_CLOSE[tag].search(html, m.end())
                if c is None:
                    # rest is CDATA content of a skipped subtree
                    pos = n
                    break
                pos = skip_to = c.start()
                continue
        pos = m.end()
    tail = html[pos:]
    if "<" in tail:
        return None
    if tail and skip_depth == 0:
        append(tail)
    if has_amp:
        import html as _html_mod

        parts = [
            _html_mod.unescape(p) if ("&" in p and p != "\n") else p
            for p in parts
        ]
    return parts


def html_to_text(html: bytes | str) -> str:
    """Deterministic boilerplate strip: raw page bytes -> clean text.

    Bytes are decoded as UTF-8 with replacement (deterministic for any
    input).  Output: visible text with boilerplate subtrees removed,
    whitespace collapsed, one line per block element.

    Hot path: a single-pass scanner ~5x faster than HTMLParser (this
    kernel is >80% of pipeline CPU); any construct it cannot reproduce
    byte-identically falls back to the pinned HTMLParser reference.
    Equality is enforced by a differential test over the corpus and
    adversarial inputs (tests/test_kernels_textnorm.py).
    """
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    parts = _fast_parts(html)
    if parts is None:
        return _html_to_text_reference(html)
    lines: List[str] = []
    buf: List[str] = []
    for part in parts:
        if part == "\n":
            if buf:
                line = _WS_RUN.sub(" ", "".join(buf)).strip()
                if line:
                    lines.append(line)
                buf = []
        else:
            buf.append(part)
    if buf:
        line = _WS_RUN.sub(" ", "".join(buf)).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Sentence segmentation (P2)
# ---------------------------------------------------------------------------

_ZH_PUNKT = frozenset({"\u3002", "\uff1f", "\uff01", "\u2026"})  # 。？！…
_EN_PUNKT = frozenset({".", "?", "!"})
_TRAILING_QUOTES = "\u2019\u201d`'\""  # ’ ” ` ' "


def sent_seg(
    text: str,
    special_seg_indicators: Optional[Sequence[Tuple[str, str]]] = None,
    lang: str = "zh",
    punctuations: Optional[Set[str]] = None,
    quotation_seg_mode: bool = True,
) -> List[str]:
    """Split text into sentences; zh/en punctuation sets, quotation-aware.

    Matches the reference semantics exactly (see module docstring):
    every run of sentence-final punctuation (optionally followed by
    closing quotes) ends a sentence; pieces are stripped; empty pieces
    are dropped (single stray punctuation pieces ARE kept).
    """
    if not isinstance(text, str):
        raise ValueError(f"sent_seg expects str, got {type(text)}")
    if not text:
        return []

    for pat, repl in special_seg_indicators or ():
        text = re.sub(pat, repl, text)

    punkt = set(_ZH_PUNKT if lang == "zh" else _EN_PUNKT)
    if punctuations:
        punkt |= set(punctuations)

    cls = "".join(re.escape(c) for c in sorted(punkt))
    if quotation_seg_mode:
        pattern = f"([{cls}]+[{_TRAILING_QUOTES}]*)"
    else:
        pattern = f"([{cls}])"
    marked = re.sub(pattern, "\\1\n", text)

    return [piece.strip() for piece in marked.split("\n") if piece.strip()]


# ---------------------------------------------------------------------------
# Tokenization (P1)
# ---------------------------------------------------------------------------

def tokenize(text: str, lang: str = "en") -> List[str]:
    """Whitespace+lowercase tokens for space-delimited languages; one
    token per character for zh (converter semantics; whitespace scrubbed
    first as in the CMED converter)."""
    if lang == "zh":
        return [ch for ch in text if not ch.isspace()]
    return text.lower().split()


def ngrams(tokens: Sequence[str], n: int) -> List[str]:
    """Contiguous token n-grams joined by a single space (shingles for
    MinHash / Jaccard dedup).  len < n -> single shingle of the whole."""
    if len(tokens) < n:
        return [" ".join(tokens)] if tokens else []
    return [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]


def chunk_windows(
    items: Sequence,
    window: int,
    stride: int | None = None,
    drop_last: bool = False,
) -> List[List]:
    """Windowed/strided chunking (W5): exact re-expression of
    rex/utils/iteration.py:12-28 (windowed_queue_iter), pinned quirks
    included: falsy stride defaults to window; input no longer than
    the window is yielded whole exactly once; without ``drop_last``
    the start index runs to the end, so overlapping strides emit
    successively SHORTER tail slices (behavior pinned by the
    reference's tests/utils/test_iteration.py:12-26).  Used for
    long-document token chunking ahead of fixed-width model UDFs
    (rex/utils/segmentation.py:93-95 role).
    """
    if not stride:
        stride = window
    queue = list(items)
    if len(queue) <= window:
        return [queue]
    max_limit = len(queue) - window + 1 if drop_last else len(queue)
    return [queue[i : i + window] for i in range(0, max_limit, stride)]


def split_list_by_element(
    elements: Sequence,
    delimiter,
    keep_empty_segments: bool = False,
) -> List[List]:
    """Split a list on every occurrence of ``delimiter`` (W6): exact
    re-expression of rex/utils/segmentation.py:82-100
    (split_list_by_element, pinned by its tests/utils/
    test_segmentation.py:26-31), quirks included:

    - no delimiter present -> ``[elements]`` unfiltered, so an empty
      input returns ``[[]]`` even without ``keep_empty_segments``;
    - with ``keep_empty_segments`` a leading/trailing/adjacent
      delimiter yields empty segments (the reference builds segments
      between consecutive delimiter positions via the same windowed
      iteration as :func:`chunk_windows`).
    """
    elements = list(elements)
    pos = [i for i, el in enumerate(elements) if el == delimiter]
    if not pos:
        return [elements]
    if len(elements) not in pos:
        pos.append(len(elements))
    res = [elements[: pos[0]]]
    for batch in chunk_windows(pos, 2, 1, drop_last=False):
        if len(batch) == 2:
            res.append(elements[batch[0] + 1 : batch[1]])
    if keep_empty_segments:
        return res
    return [seg for seg in res if seg]


def char_shingles(text: str, k: int = 3) -> List[str]:
    """Character k-shingles of a casefolded, whitespace-collapsed string
    (entity-surface blocking)."""
    s = _WS_RUN.sub(" ", text.casefold()).strip()
    if len(s) <= k:
        return [s] if s else []
    return [s[i : i + k] for i in range(len(s) - k + 1)]
