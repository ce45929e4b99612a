"""Stage 2 — HTML DOM extraction + boilerplate strip (SURVEY.md §2.1 S2,
§2.2 F13/F14).

The reference extracts slov-lex HTML with BeautifulSoup selectors
(annex_processor.py:267-334, sequential_parser.py:4548-4661) after IBM
Docling has flattened the DOM into a reading-order item stream. Here the
flatten is one streaming pass: a tokenizer turns the payload into
start/end/data events and `_Extractor` turns those events into the flat
`(kind, text, media_ref)` span stream that the hierarchy state machine
consumes — identical in role to docling's HTML backend, original in
implementation.

No tree is built. The extractor keeps one frame per open element and emits
an element's spans when it closes, so nesting depth is bounded by memory,
not by the recursion limit. Two tokenizers feed it the same events: a fast
scan for machine-generated HTML, and the stdlib `HTMLParser` for anything
the scan defers to (comments, scripts, odd quoting, truncated tags). The
stdlib one is the reference; tests/test_properties.py checks the two agree.

Runs document-batched inside mapInArrow: one call per HTML payload, many
payloads per Arrow batch — never per inner element across rows.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Dict, List, Optional, Tuple

Span = Tuple[str, str, Optional[str]]  # (kind, text, media_ref)

# slov-lex structural classes → emitted span behavior.
_MARKER_CLASSES = {
    "castOznacenie",
    "paragrafOznacenie",
    "odsekOznacenie",
    "pismenoOznacenie",
    "bodOznacenie",
    "prilohaOznacenie",
    "poznamkaOznacenie",
}
_HEADING_CLASSES = {"castNadpis", "paragrafNadpis", "nadpis", "NADPIS"}
_CONTENT_CLASSES = {"text", "poznamka", "clanok"}
_FURNITURE_CLASSES = {"menu", "footer", "header", "navigacia", "toolbar"}
# a content div child with one of these classes (or any div child) takes
# the div-level hyperlink away from the div's text runs
_LINK_BLOCKING_CLASSES = _MARKER_CLASSES | {"text"}

# elements that never hold children, for both tokenizers
_VOID = {"img", "br", "hr", "meta", "link", "input"}

# inline formatting tags → flag chars (docling Formatting model,
# document.py:1607-1614: bold/italic/underline/strikethrough; the HTML
# backend maps b/strong→bold, i/em→italic, u→underline, del/s/strike→
# strikethrough)
_FMT_TAGS = {
    "b": "B", "strong": "B",
    "i": "I", "em": "I",
    "u": "U",
    "del": "S", "s": "S", "strike": "S",
}
_FMT_ORDER = "BIUS"

_WS_RE = re.compile(r"[ \t\r\n]+")

# Frame modes. A walked element is a generic container, a content div
# (class text/poznamka/clanok), a title, or a marker/heading block; a
# content div's non-div children are anchors, formatting runs or inline
# text. Modes from _TITLE on collect their whole subtree as text: nothing
# under them is walked.
_GENERIC, _CONTENT, _TITLE, _BLOCK, _INLINE, _ANCHOR, _FMT = range(7)

# class attribute string → (mode, kind, furniture, blocks_link). Bounded so
# adversarial payloads cannot grow it without limit.
_CLASS_INFO: Dict[Optional[str], Tuple[int, str, bool, bool]] = {}


def _class_info(cls: Optional[str]) -> Tuple[int, str, bool, bool]:
    info = _CLASS_INFO.get(cls)
    if info is None:
        names = set((cls or "").split())
        if names & _MARKER_CLASSES:
            mode, kind = _BLOCK, "text"
        elif names & _HEADING_CLASSES:
            mode, kind = _BLOCK, "section_header"
        elif names & _CONTENT_CLASSES:
            mode, kind = _CONTENT, "text"
        else:
            mode, kind = _GENERIC, "text"
        info = (mode, kind, bool(names & _FURNITURE_CLASSES),
                bool(names & _LINK_BLOCKING_CLASSES))
        if len(_CLASS_INFO) < 4096:
            _CLASS_INFO[cls] = info
    return info


def _collapse(parts: List[str]) -> str:
    """Joined text, whitespace-collapsed and stripped."""
    joined = "".join(parts)
    # collapse only when multi-whitespace actually present (hot path)
    if "\n" in joined or "\t" in joined or "  " in joined:
        return _WS_RE.sub(" ", joined).strip()
    return joined.strip()


class _Frame:
    """One open element. An element nested in a collected subtree shares
    its collector's frame rather than getting its own."""

    __slots__ = ("mode", "kind", "furniture", "buf", "href", "ref", "flags",
                 "runs", "linked", "in_para")

    def __init__(self, mode: int, kind: str, furniture: bool,
                 href: Optional[str] = None) -> None:
        self.mode = mode
        self.kind = kind  # span kind this frame emits ("" for a content div's child)
        self.furniture = furniture
        self.buf: List[str] = []  # collected text not yet emitted
        self.href = href  # first <a href> of the subtree so far
        self.ref: Optional[str] = None  # an anchor's own href
        self.flags = ""  # formatting flags seen in the subtree
        self.runs: List[int] = []  # content div: span indices of its text runs
        self.linked = True  # content div: runs may carry the div's href
        self.in_para = False  # content div: a run of this paragraph was emitted


class _Extractor:
    """Turns start/end/data events into the span stream, in one pass.

    A title, marker or heading collects its subtree's text and first
    `<a href>` and emits one span when it closes. A content div emits its
    text runs, split around its div and img children and around anchors
    and (formatted mode) formatting runs, which become spans of their own.
    A generic container emits each of its own text runs. The one non-local
    rule: in plain mode a content div's runs carry the div's first
    `<a href>`, even one that comes later — unless some child is a div or a
    marker/`text`-class element, even a later one. The runs are emitted with
    None and patched when the div closes."""

    def __init__(self, with_formatting: bool) -> None:
        self.fmt = with_formatting
        self.spans: List[Span] = []
        self._tags: List[str] = ["#root"]
        self._frames: List[_Frame] = [_Frame(_GENERIC, "text", False)]

    def _emit(self, kind: str, text: str, ref: Optional[str], flags: str = "") -> None:
        if self.fmt:
            self.spans.append((kind, text, ref, flags))
        else:
            self.spans.append((kind, text, ref))

    def _inline(self, f: _Frame, text: str, ref: Optional[str], flags: str = "") -> None:
        # formatted mode marks the second and later spans of one paragraph
        # with 'c' so the sinks can rejoin them into one flowing paragraph
        self._emit(f.kind, text, ref, flags + "c" if f.in_para else flags)
        f.in_para = True

    def _flush(self, f: _Frame) -> None:
        if f.buf:
            text = _WS_RE.sub(" ", "".join(f.buf)).strip()
            f.buf = []
            if text:
                if not self.fmt:
                    f.runs.append(len(self.spans))
                self._inline(f, text, None)

    def start(self, tag: str, attrs: Dict[str, Optional[str]], opens: bool) -> None:
        frames = self._frames
        top = frames[-1]
        mode = top.mode
        if mode >= _TITLE:  # inside a collected subtree
            if tag == "a":
                if top.href is None:
                    top.href = attrs.get("href") or None
            elif tag in _FMT_TAGS:
                top.flags += _FMT_TAGS[tag]
            if opens:
                self._tags.append(tag)
                frames.append(top)
            return
        if mode == _CONTENT:
            if tag == "div" or _class_info(attrs.get("class"))[3]:
                top.linked = False
            if tag == "div" or tag == "img":
                # a nested block breaks the paragraph and is walked
                self._flush(top)
                top.in_para = False
            else:
                if tag == "a":
                    f = _Frame(_ANCHOR, "", False, attrs.get("href") or None)
                    f.ref = attrs.get("href")
                elif self.fmt and tag in _FMT_TAGS:
                    f = _Frame(_FMT, "", False)
                    f.flags = _FMT_TAGS[tag]
                else:
                    f = _Frame(_INLINE, "", False)
                self._open(tag, f, top, opens)
                return
        # a walked element
        if tag == "title":
            f = _Frame(_TITLE, "title", False)
        elif tag == "img":
            self._emit("media", attrs.get("alt", ""), attrs.get("src"))
            return
        else:
            fmode, kind, furniture, _ = _class_info(attrs.get("class"))
            furniture = furniture or top.furniture
            if fmode == _GENERIC and mode == _GENERIC and furniture == top.furniture:
                f = top  # same emission as the enclosing container
            else:
                if furniture:
                    kind = "page_footer"
                f = _Frame(fmode, kind, furniture,
                           (attrs.get("href") or None) if tag == "a" else None)
        self._open(tag, f, top, opens)

    def _open(self, tag: str, f: _Frame, parent: _Frame, opens: bool) -> None:
        if opens:
            self._tags.append(tag)
            self._frames.append(f)
        elif f is not parent:
            self._close(f, parent)

    def data(self, text: str) -> None:
        f = self._frames[-1]
        if f.mode == _GENERIC:
            t = _WS_RE.sub(" ", text).strip()
            if t:
                self._emit(f.kind, t, None)
        else:
            f.buf.append(text)

    def end(self, tag: str) -> None:
        """Close the innermost open element named tag and everything opened
        inside it; an end tag with no open element is ignored."""
        tags = self._tags
        i = len(tags) - 1
        while i and tags[i] != tag:
            i -= 1
        if i:
            self._close_from(i)

    def _close_from(self, i: int) -> None:
        tags, frames = self._tags, self._frames
        while len(frames) > i:  # innermost first
            tags.pop()
            f = frames.pop()
            if f is not frames[-1]:
                self._close(f, frames[-1])

    def _close(self, f: _Frame, parent: _Frame) -> None:
        mode = f.mode
        if mode == _GENERIC:
            return
        if mode == _CONTENT:
            self._flush(f)
            if f.runs and f.linked and f.href:
                spans = self.spans
                for i in f.runs:
                    spans[i] = (f.kind, spans[i][1], f.href)
            return
        text = _collapse(f.buf)
        if mode == _TITLE:
            if text:
                self._emit("title", text, None)
            return
        if mode == _BLOCK:
            # the hyperlink is the <a href> anchor ONLY — docling models
            # hyperlinks from anchor elements, never from div ids, and the
            # hierarchy stage's hyperlink-primary detection depends on that
            # (a bod marker must NOT inherit its pismeno ancestor's id)
            if text:
                self._emit(f.kind, text, f.href)
            return
        # a content div's child: parent is the content div
        if parent.href is None:
            parent.href = f.href
        if mode == _INLINE:
            parent.buf.append(text)
        elif text:
            # one flag set per span — docling's per-TextItem Formatting
            # (document.py:1617-1639): a partly bold run is a bold span
            flags = "".join(x for x in _FMT_ORDER if x in f.flags) if self.fmt else ""
            self._flush(parent)
            self._inline(parent, text, f.ref if mode == _ANCHOR else f.href, flags)

    def finish(self) -> List[Span]:
        self._close_from(1)
        return self.spans


# ---------------------------------------------------------------------------
# fast tokenizer: machine-generated (slov-lex-style) HTML is regular enough
# for a find-based scan ~4× faster than html.parser. Anything suspicious
# (comments, scripts, CDATA, exotic constructs) defers to the stdlib
# tokenizer.
# ---------------------------------------------------------------------------

_ATTR_RE = re.compile(
    r"([a-zA-Z][a-zA-Z0-9_-]*)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))"
)
_FAST_UNSAFE_RE = re.compile(r"<!--|<script|<style|<!\[CDATA\[|<\?")
# html.parser ends a tag name only at whitespace, '/' or '>': `<a<div …>` is
# one tag named "a<div". A head that stops anywhere else does not match, and
# the payload defers.
_TAG_HEAD_RE = re.compile(r"(/?)([a-zA-Z][a-zA-Z0-9]*)(?=[\t\n\r\f /]|$)")

# machine-generated HTML repeats the same attribute strings (class="odsek",
# class="pismeno", …) thousands of times per corpus — memoize the parsed
# dict. The dicts are read-only downstream (attrs.get only), so sharing one
# instance is safe; the size bound keeps adversarial payloads from growing
# the cache without limit.
_ATTRS_CACHE: Dict[str, Dict[str, str]] = {}


def _parse_attrs(attrs_str: str) -> Dict[str, str]:
    cached = _ATTRS_CACHE.get(attrs_str)
    if cached is not None:
        return cached
    attrs = {}
    for am in _ATTR_RE.finditer(attrs_str):
        attrs[am.group(1).lower()] = am.group(2) or am.group(3) or am.group(4) or ""
    if len(_ATTRS_CACHE) < 4096:
        _ATTRS_CACHE[attrs_str] = attrs
    return attrs


# whole-tag memo: a 300-doc sample shows 147k tags but only ~3.5k distinct
# tag strings ('/div', 'div class="text"', …) — one dict hit replaces
# head-regex + attr parse for ~98% of tags.
_SEG_CACHE: Dict[str, tuple] = {}


def _fast_scan(payload: str, ex: _Extractor) -> bool:
    """Feed payload's events to ex. Returns False, leaving ex half-fed, when
    the payload needs the stdlib tokenizer instead.

    Each tag is sliced at the first '>' (find is ~6× cheaper than the
    backtracking attr regex). A '>' hiding inside a quoted attribute value
    leaves the slice with an odd quote count; that payload defers too."""
    if _FAST_UNSAFE_RE.search(payload):
        return False
    start, end, data = ex.start, ex.end, ex.data
    pos = 0
    n = len(payload)
    find = payload.find
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            text = payload[pos:]
            data(unescape(text) if "&" in text else text)
            break
        if lt > pos:
            text = payload[pos:lt]
            data(unescape(text) if "&" in text else text)
        gt = find(">", lt + 1)
        if gt == -1:
            return False  # truncated tag
        pos = gt + 1
        seg = payload[lt + 1 : gt]
        if seg[:1] == "!":  # doctype (comments excluded by the unsafe guard)
            continue
        cached = _SEG_CACHE.get(seg)
        if cached is None:
            if ('"' in seg and seg.count('"') % 2) or ("'" in seg and seg.count("'") % 2):
                # a quote opened inside this tag closes beyond the first '>'
                # — a quoted '>' in an attribute (rare) or unterminated-quote
                # garbage, which the regex and html.parser tokenize
                # differently
                return False
            m = _TAG_HEAD_RE.match(seg)
            if not m:
                return False  # malformed
            tag = m.group(2).lower()
            attrs_str = seg[m.end():]
            attrs = _parse_attrs(attrs_str) if attrs_str and "=" in attrs_str else {}
            cached = (bool(m.group(1)), tag, attrs,
                      tag not in _VOID and not seg.endswith("/"))
            if len(_SEG_CACHE) < 16384:
                _SEG_CACHE[seg] = cached
        is_closing, tag, attrs, opens = cached
        if is_closing:
            end(tag)
        else:
            start(tag, attrs, opens)
    return True


class _StdlibTokenizer(HTMLParser):
    """The stdlib tokenizer as an event source for _Extractor. `<x/>` reaches
    it as start then end, which the extractor treats like a void start."""

    def __init__(self, ex: _Extractor) -> None:
        super().__init__(convert_charrefs=True)
        self._start = ex.start
        self.handle_endtag = ex.end
        self.handle_data = ex.data

    def handle_starttag(self, tag, attrs):
        self._start(tag, dict(attrs), tag not in _VOID)


def _stdlib_scan(payload: str, ex: _Extractor) -> None:
    tokenizer = _StdlibTokenizer(ex)
    tokenizer.feed(payload)
    tokenizer.close()  # flush buffered trailing data (e.g. a bare '&')


def extract_html_spans(html: str, with_formatting: bool = False) -> List[Span]:
    """Flatten one slov-lex-shaped HTML payload into ordered spans.

    Structural divs keep their anchor ids as media_ref (the hyperlink-primary
    marker path, sequential_parser.py:129-178); furniture containers emit
    `page_footer`/`page_header` spans for the downstream strip; `<img>` →
    `media` spans; `<title>` → a `title` span.

    `with_formatting=True` returns 4-tuples (kind, text, media_ref, fmt)
    where fmt ⊆ "BIUS" captures inline <b>/<strong>/<i>/<em>/<u>/<del>/<s>
    runs in content divs (docling Formatting model, document.py:1607-1614).
    This flat formatted stream feeds the formatting-aware sinks directly;
    the hierarchy state machine merges spans and therefore drops the
    per-item flags (same granularity loss docling would hit merging items).
    Formatted mode also keeps hyperlinks scoped to their anchor spans: no
    text run carries its content div's link.
    """
    ex = _Extractor(with_formatting)
    if not _fast_scan(html, ex):
        ex = _Extractor(with_formatting)
        _stdlib_scan(html, ex)
    return ex.finish()


def extract_html_spans_robust(html: str, with_formatting: bool = False) -> List[Span]:
    """Force the stdlib tokenizer (the fast≡robust equivalence tests use
    this; production uses extract_html_spans which picks automatically)."""
    ex = _Extractor(with_formatting)
    _stdlib_scan(html, ex)
    return ex.finish()
