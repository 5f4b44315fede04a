"""Main-content HTML extraction with character-span offsets.

Stdlib-only (html.parser) boilerplate stripper in the spirit of
Readability / jusText: block-level segmentation, tag-blocklist subtree
pruning, link-density + text-length scoring. Replaces the reference's
Tesseract payload operator (Worker.java:145-153 ``applyOcr``) with the
target domain's payload (HTML bytes -> main-content text), keeping the
same contract: pure function of the bytes, errors never raised past
:func:`extract_html` callers' boundary (see core.extract_payload).

The container has no lxml (verified 2026-08-16); the parser backend is
kept behind this module boundary so an lxml implementation can slot in
on a real cluster without touching the pipeline.
"""

from __future__ import annotations

import re
from html import unescape

# Subtrees that never contain main content: pruned wholesale
# (tag-blocklist pruning per BASELINE.json north_star).
_SKIP_SUBTREE = {
    "script", "style", "noscript", "template", "svg", "iframe",
    "head", "nav", "header", "footer", "aside", "form", "button",
    "select", "option", "datalist", "object", "embed", "canvas",
    "video", "audio", "figure", "map", "menu",
}

# Tags that open a new text block.
_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "body", "li", "td",
    "th", "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
    "figcaption", "dd", "dt", "tr", "table", "ul", "ol", "dl",
    "br", "hr",
}

# jusText-style thresholds (public heuristics; values fixed here and
# versioned — changing them changes golden output).
MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33
MAX_HEADING_LINK_DENSITY = 0.50

_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.IGNORECASE
)


_KIND_OF = {
    "h1": "heading", "h2": "heading", "h3": "heading", "h4": "heading",
    "h5": "heading", "h6": "heading",
    "li": "li", "dd": "li", "dt": "li",
    "pre": "pre", "blockquote": "blockquote",
    "td": "cell", "th": "cell", "tr": "cell", "table": "cell",
}

# ---------------------------------------------------------------------------
# integrated scanner: one compiled regex + inlined block segmentation.
# (History: html.parser state machine -> regex tokenizer feeding
# HTMLParser-style handlers (~2x) -> handlers inlined into the scan
# loop (this form, ~25% more). Semantics are pinned byte-identical by
# tests/golden_corpus_sha256.json at every step.)
# Behavior mirrors html.parser for our purposes: lowercased tag names,
# entities decoded in text (convert_charrefs), raw-text elements
# (script/style/textarea/title) delivered as one undecoded chunk.
# ---------------------------------------------------------------------------

_RAWTEXT = {"script", "style", "textarea", "title"}
# Branch order: tag first (the common case — the alternation branches
# are mutually exclusive by first character, so order only affects
# speed); comment/cdata stay ahead of doctype/pi (both match at
# "<!--"). The trailing EMPTY branch makes every bare "<" match as a
# 1-char token, so one C-level search() call per token replaces the
# find("<") + match() pair (r07; byte-identical, golden-pinned).
_TOKEN_RE = re.compile(
    r"""<(?:
        (?P<close>/)?(?P<name>[a-zA-Z][a-zA-Z0-9:._-]*)   # tag name
        (?P<attrs>(?:"[^"]*"|'[^']*'|[^>"'])*)>?          # attrs (quote-aware)
      | !--.*?(?:-->|$)                                   # comment
      | !\[CDATA\[.*?(?:\]\]>|$)                          # cdata
      | [!?][^>]*>?                                       # doctype / pi
      |                                                   # bare '<'
    )""",
    re.DOTALL | re.VERBOSE,
)

# one dict lookup per tag instead of a chain of set membership tests:
# bitmask action codes for every tag name the scanner reacts to
_SKIP, _LINK, _BLOCK, _FLUSH, _RAW = 1, 2, 4, 8, 16
_TAG_CODE: dict = {}
for _n in _SKIP_SUBTREE:
    _TAG_CODE[_n] = _TAG_CODE.get(_n, 0) | _SKIP
_TAG_CODE["a"] = _TAG_CODE.get("a", 0) | _LINK
for _n in _BLOCK_TAGS:
    _TAG_CODE[_n] = _TAG_CODE.get(_n, 0) | (
        _FLUSH if _n in ("br", "hr") else _BLOCK
    )
for _n in _RAWTEXT:
    _TAG_CODE[_n] = _TAG_CODE.get(_n, 0) | _RAW
_WS = " \t\n\r\x0b\x0c"


def _segment(html: str) -> list:
    """One pass over the document -> [(kind, text_parts, total_chars,
    link_chars)] flat block list."""
    blocks: list = []
    parts: list = []
    total = 0
    link = 0
    kind = "p"
    kind_stack: list = []
    skip_depth = 0
    link_depth = 0
    pos, n = 0, len(html)
    find = html.find
    search = _TOKEN_RE.search
    kind_of = _KIND_OF.get
    tag_code = _TAG_CODE.get

    while pos < n:
        m = search(html, pos)
        lt = m.start() if m else -1
        if lt == -1:
            text = html[pos:]
            pos = n
        else:
            text = html[pos:lt] if lt > pos else None
        if text and not skip_depth:
            if "&" in text:
                text = unescape(text)
            if text.isspace():
                if parts:
                    parts.append(text)
            else:
                parts.append(text)
                c = len(text.strip())
                total += c
                if link_depth:
                    link += c
        if lt == -1:
            break
        pos = m.end()
        # one C-level tuple fetch for all three groups (r07; was three
        # separate group() calls), action codes via one dict lookup —
        # verified output-identical (golden sha256 manifest unchanged)
        close, name, attrs = m.group(1, 2, 3)
        if not name:
            if pos == lt + 1:  # bare '<' (empty branch): literal text
                if not skip_depth:
                    parts.append("<")
                    total += 1
                    if link_depth:
                        link += 1
            continue  # comment/doctype/cdata/pi: no event
        if not name.islower():
            name = name.lower()
        code = tag_code(name, 0)
        if close:
            if code & _SKIP:
                if skip_depth:
                    skip_depth -= 1
            elif skip_depth:
                pass
            elif code & _LINK:
                if link_depth:
                    link_depth -= 1
            elif code & _BLOCK:
                if parts:
                    blocks.append((kind, parts, total, link))
                if kind_stack:
                    kind_stack.pop()
                kind = kind_stack[-1] if kind_stack else "p"
                parts = []
                total = 0
                link = 0
            continue
        if attrs and (
            attrs[-1] == "/"
            or (attrs[-1] in _WS and attrs.rstrip().endswith("/"))
        ):
            # self-closed: only br/hr matter (block flush)
            if not skip_depth and code & _FLUSH:
                if parts:
                    blocks.append((kind, parts, total, link))
                parts = []
                total = 0
                link = 0
        elif code:
            if code & _SKIP:
                skip_depth += 1
            elif skip_depth:
                pass
            elif code & _LINK:
                link_depth += 1
            elif code & (_BLOCK | _FLUSH):
                if parts:
                    blocks.append((kind, parts, total, link))
                parts = []
                total = 0
                link = 0
                if code & _BLOCK:
                    kind = kind_of(name, "p")
                    kind_stack.append(kind)
            if code & _RAW:
                # CDATA content mode: no entity decoding, no nested tags
                end = find(f"</{name}", pos)
                if end == -1:
                    raw = html[pos:]
                    pos = n
                else:
                    raw = html[pos:end]
                if raw and not skip_depth and not raw.isspace():
                    parts.append(raw)
                    c = len(raw.strip())
                    total += c
                    if link_depth:
                        link += c
                elif raw and not skip_depth and parts:
                    parts.append(raw)
                if end != -1:
                    gt = find(">", end)
                    # rawtext close tag: mirror the endtag branch above
                    if code & _SKIP:
                        if skip_depth:
                            skip_depth -= 1
                    pos = n if gt == -1 else gt + 1
    if parts:
        blocks.append((kind, parts, total, link))
    return blocks


def decode_payload(payload: bytes) -> str:
    """Deterministic charset handling: utf-8 strict, else the charset
    declared in the first 2 KiB, else utf-8 with replacement."""
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return payload.decode("utf-16", errors="replace")
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        pass
    m = _CHARSET_RE.search(payload[:2048])
    if m:
        try:
            return payload.decode(m.group(1).decode("ascii"), errors="strict")
        except (UnicodeDecodeError, LookupError):
            pass
    return payload.decode("utf-8", errors="replace")


def extract_html(payload: bytes) -> tuple[str, list[tuple[int, int, str]]]:
    """HTML bytes -> (main-content text, [(start, end, kind), ...]).

    Kept blocks are joined with "\\n\\n"; spans are offsets of each kept
    block in the returned text. Raises only on truly broken input —
    callers go through core.extract_payload which maps exceptions to
    error rows (reference semantics: Worker.java:86-98, errors are
    results, not exceptions).
    """
    html = decode_payload(payload)
    out_parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    pos = 0
    for kind, parts, total, link in _segment(html):
        # whitespace collapse + strip (same as regex \s+ sub + strip)
        text = " ".join("".join(parts).split())
        if not text:
            continue
        ld = link / total if total else 0.0
        if kind == "heading":
            if ld > MAX_HEADING_LINK_DENSITY:
                continue
        else:
            if len(text) < MIN_BLOCK_CHARS or ld > MAX_LINK_DENSITY:
                continue
        if out_parts:
            pos += 2  # the "\n\n" separator
        out_parts.append(text)
        spans.append((pos, pos + len(text), kind))
        pos += len(text)
    return "\n\n".join(out_parts), spans
