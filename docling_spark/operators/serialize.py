"""Stage 6 — serialization sinks and chunking (SURVEY.md §2.1 S7/S8,
§2.8 C7-C10, §2.9 K1/K5).

Serializers and chunkers over the *normalized* span table. The markdown,
HTML, LaTeX and doctags serializers are one block walk, `_render`: it reads
a document's spans once and cuts them into blocks (a kv/form region, a
table, a list run, a paragraph, or a single span), and each format is a
`_Format` data table of escaping, single-span templates, block renderers and
the document join. Its SQL counterpart is the DuckDB oracles'
`_duck_sink_base_cte` in `__spark_entry__.py`, the same segmentation plus a
render step per format. Law-level chunking with its exports, and the
Azure-layout serializer over docling-JSON payloads, follow.

Every sink is per-document-local → the same zero-shuffle mapInArrow stage
(`docmap.map_documents`) as the extraction pipeline; the chunk sinks emit
one row per chunk from that stage, still with no exchange.

Reference semantics mirrored (original implementation):
- markdown walk with #/##/### headings, bold markers, pipe tables
  (/root/reference/sequential_parser.py:5038-5186, format_table_as_markdown
  4958-5018)
- chunking at part/paragraph/odsek/pismeno level with parent-context
  headings (/root/reference/chunk_to_markdown.py:478-676; heading tracking
  hierarchical_chunker.py:148-163)
"""

from __future__ import annotations

import re
from typing import Callable, Dict, List, NamedTuple, Optional, Tuple

from docling_spark.docmap import map_documents, map_rows
from docling_spark.schema import CHUNK_DDL

Span = Tuple[str, str, Optional[str]]


# ---------------------------------------------------------------------------
# Inline formatting (optional 4th span element, flags ⊆ "BIUS"):
# B=bold I=italic U=underline S=strikethrough; a hyperlink rides the span's
# media_ref. Formatted spans follow docling-core's serializer rules exactly
# (fuzz-verified against the reference's own escaping functions in
# tests/test_serialize.py):
# - markdown: escape '_' outside image-URL patterns (markdown.py:745-776),
#   html.escape(quote=False) (markdown.py:778-792), then wrap in
#   **bold** / *italic* / ~~strike~~ (underline is a no-op in markdown —
#   common.py:537 default not overridden), hyperlink [text](url) OUTERMOST
#   (application order common.py:509-524).
# - html: escaped text wrapped in <strong>/<em>/<u>/<del>, hyperlink
#   <a href="..."> outermost (html.py:943-980).
# Unformatted spans keep the legacy byte-exact rendering (which mirrors the
# reference APPLICATION layer's own markdown sink, sequential_parser.py:
# 5038-5186 — that path does not escape).
# ---------------------------------------------------------------------------

_MD_IMG_URL_RE = re.compile(r"!\[.*?\]\((.*?)\)")
_MD_UNDERSCORE_RE = re.compile(r"(?<!\\)_")


def _md_escape_underscores(text: str) -> str:
    """Escape '_' but leave image URLs intact — the exact algorithm of
    MarkdownDocSerializer._escape_underscores (markdown.py:745-776)."""
    parts: List[str] = []
    last_end = 0
    for match in _MD_IMG_URL_RE.finditer(text):
        parts.append(_MD_UNDERSCORE_RE.sub(r"\\_", text[last_end:match.start()]))
        parts.append(match.group(0))
        last_end = match.end()
    if last_end < len(text):
        parts.append(_MD_UNDERSCORE_RE.sub(r"\\_", text[last_end:]))
    return "".join(parts)


def _md_post_process(text: str, fmt: str, hyperlink: Optional[str]) -> str:
    """docling-core markdown post_process for one formatted span."""
    import html as _h

    res = _h.escape(_md_escape_underscores(text or ""), quote=False)
    if "B" in fmt:
        res = f"**{res}**"
    if "I" in fmt:
        res = f"*{res}*"
    # underline: markdown has no override — no-op (common.py:537)
    if "S" in fmt:
        res = f"~~{res}~~"
    if hyperlink:
        res = f"[{res}]({hyperlink})"
    return res


def _html_post_process(text: str, fmt: str, hyperlink: Optional[str]) -> str:
    """docling-core HTML post_process for one formatted span."""
    res = _esc(text)
    if "B" in fmt:
        res = f"<strong>{res}</strong>"
    if "I" in fmt:
        res = f"<em>{res}</em>"
    if "U" in fmt:
        res = f"<u>{res}</u>"
    if "S" in fmt:
        res = f"<del>{res}</del>"
    if hyperlink:
        res = f'<a href="{_esc_attr(hyperlink)}">{res}</a>'
    return res


# key-value / form span kinds (docling-JSON reader flattening of
# document.py:2560-2562 GraphData items): a `kv`/`form_field` span carries a
# key cell's text, one or more `kv_value`/`form_value` spans carry values.
# The reference serializer groups ALL values per key cell in FIRST-SEEN
# order (value_links dict keyed on source_cell_id, html.py:556-598), so two
# links to the same key merge into one <dt> even when interleaved with other
# keys, and two distinct key cells with identical text stay separate. The
# reader threads that identity through the span ref ('#/<arr>/<i>/c<id>' on
# both the key and its value spans); refs without the '/c' suffix fall back
# to grouping by key text (still region-wide, the closest approximation
# identity-less spans allow). A ref whose family or item prefix changes
# opens a new region, matching the one-<div>-per-item reference output.
_KV_KEY_KINDS = {"kv": "key-value-region", "form_field": "form-container"}
_KV_FAMILY = {"kv": "kv", "kv_value": "kv",
              "form_field": "form_field", "form_value": "form_field"}


class _KvRegion:
    """One key-value/form region (= one graph item): values grouped under
    keys by cell identity, keys in first-seen order."""

    def __init__(self, kind: str) -> None:
        self.kind = kind  # 'kv' | 'form_field'
        # first-seen-ordered: identity -> [key_text, [values]]
        self._groups: dict = {}
        self._last_identity = None

    def items(self):
        return self._groups.values()

    def feed(self, kind: str, text: str, ref: Optional[str]) -> None:
        # a '/c' ref is item prefix + key cell id: true reference identity
        ident = ref if (ref and "/c" in ref) else None
        if kind in _KV_KEY_KINDS:
            ident = ident or ("txt", text)  # identity-less: group by key text
            g = self._groups.setdefault(ident, [text, []])
            g[0] = g[0] or text  # key may backfill a value-opened group
            self._last_identity = ident
            return
        # value span: attach by identity, else to the last key seen
        ident = ident or self._last_identity or ("txt", "")
        if ident not in self._groups:
            self._groups[ident] = ["", []]
            self._last_identity = ident
        self._groups[ident][1].append(text)


# ---------------------------------------------------------------------------
# The block walk. `_render` reads one document's spans once and cuts them
# into blocks: a kv/form region, a table (a run of table_cells with the same
# '#/tables/i' id), a list run, a paragraph (a span plus its 'c'-flagged
# continuations), or a single span. Only the markup differs between formats,
# so each format is a `_Format` table of escaping, single-span templates,
# block renderers and the document join.
# ---------------------------------------------------------------------------

_BOLD_KINDS = ("odsek", "pismeno", "subitem", "footnote")


class _Format(NamedTuple):
    esc: Callable  # text -> display text (unformatted spans)
    post: Optional[Callable]  # (text, flags, hyperlink) -> display; None: flags ignored
    strip_cells: bool
    single: Dict[str, Callable]  # kind -> (disp, text, ref) -> entry, None = nothing
    para: Callable  # [disp] -> entry
    list: Callable  # [disp] -> entry
    table: Callable  # rows of cells -> entry
    kv: Optional[Callable]  # _KvRegion -> entry; None: kv spans are paragraph text
    join: Callable  # entries -> document


_PARA, _LIST = object(), object()  # open-block keys; a table keys on its id


def _render(spans, fmt: _Format) -> str:
    """One document's spans → one format's string.

    Spans are (kind, text, ref) or (kind, text, ref, flags). Any 4-tuple
    switches the document to FORMATTED mode (formats with a `post`): every
    span renders through `post` (docling-core escaping and wrappers, the ref
    as hyperlink), and fragments flagged 'c' (continuation) rejoin their
    paragraph with single-space joins, as the reference's inline-group
    serializer does (`" ".join(...)`, markdown.py:673). 3-tuple documents
    keep the legacy rendering through `esc`."""
    formatted = fmt.post is not None and any(len(s) > 3 for s in spans)
    esc, post, single = fmt.esc, fmt.post, fmt.single
    kv_family = _KV_FAMILY if fmt.kv is not None else {}
    out: List[str] = []
    # the open block: its renderer, the key a span must match to extend it,
    # and its contents (parts, items, rows or a _KvRegion)
    blk = key = acc = None
    f = ""
    for s in spans:
        kind, text, ref = s[0], s[1], s[2]
        if formatted:
            f = (s[3] or "") if len(s) > 3 else ""
        if kind == "table_cell":
            # ref shape '#/tables/i/rRcC', row-major arrival order; the
            # structural ref is never a hyperlink
            ref = ref or ""
            tid = ref.split("/r", 1)[0]
            if key != tid:
                if blk is not None:
                    out.append(blk(acc))
                blk, key, acc = fmt.table, tid, []
            head = ref.rsplit("/r", 1)[-1].split("c")[0]
            r = int(head) if head.isdigit() else 0
            while len(acc) <= r:
                acc.append([])
            if fmt.strip_cells:
                text = (text or "").strip()
            acc[r].append(post(text, f, None) if formatted else esc(text))
        elif kind in kv_family:
            k = (kv_family[kind], ref.split("/c", 1)[0] if ref else ref)
            if key != k:
                if blk is not None:
                    out.append(blk(acc))
                blk, key, acc = fmt.kv, k, _KvRegion(k[0])
            acc.feed(kind, text, ref)
        else:
            d = post(text, f, ref) if formatted else esc(text)
            if kind == "list_item":
                if key is not _LIST:
                    if blk is not None:
                        out.append(blk(acc))
                    blk, key, acc = fmt.list, _LIST, []
                acc.append(d)
            elif kind in single:
                if blk is not None:
                    out.append(blk(acc))
                    blk = key = None
                e = single[kind](d, text, ref)
                if e is not None:
                    out.append(e)
            elif key is _PARA and "c" in f:
                acc.append(d)
            else:
                if blk is not None:
                    out.append(blk(acc))
                blk, key, acc = fmt.para, _PARA, [d]
    if blk is not None:
        out.append(blk(acc))
    return fmt.join(out)


# ---------------------------------------------------------------------------
# Markdown (the reference application layer's own sink,
# sequential_parser.py:5038-5186, format_table_as_markdown 4958-5018). An
# entry ending in "\n" is a block followed by a blank line.
# ---------------------------------------------------------------------------

_HEADING_LEVELS = {
    "title": "#",
    "part": "#",
    "section_header": "##",
    "paragraph": "##",
    "paragraph_title": "###",
    "annex": "##",
}


def _md_table(rows: List[List[str]]) -> str:
    header, *body = rows
    lines = ["| " + " | ".join(header) + " |",
             "| " + " | ".join("---" for _ in header) + " |"]
    lines += ["| " + " | ".join(row) + " |" for row in body]
    return "\n".join(lines) + "\n"


def _md_kv(region: _KvRegion) -> str:
    # '**key**: v1, v2' definition lines (the reference's own markdown
    # serializer is a TODO stub emitting '<!-- missing-key-value-item -->',
    # markdown.py:553-573 — we render the content instead)
    return "\n".join(f"**{k}**: {', '.join(vals)}" for k, vals in region.items()) + "\n"


_MARKDOWN = _Format(
    esc=str,
    post=_md_post_process,
    strip_cells=False,
    single={
        **{k: (lambda d, t, r, h=h: f"{h} {d}\n") for k, h in _HEADING_LEVELS.items()},
        **dict.fromkeys(_BOLD_KINDS, lambda d, t, r: f"**{d}**"),
        "media": lambda d, t, r: f"![{t}]({r})\n",
        "page_break": lambda d, t, r: None,
        "caption": lambda d, t, r: f"*{d}*\n",
    },
    para=lambda parts: " ".join(parts) + "\n",
    list=lambda items: "\n".join(f"- {x}" for x in items),
    table=_md_table,
    kv=_md_kv,
    join=lambda out: "\n".join(out).strip() + "\n",
)


def render_markdown(spans: List[Span],
                    page_break_placeholder: "str | None" = None) -> str:
    """One document's normalized spans → markdown string (modes: `_render`).

    `page_break_placeholder` mirrors MarkdownParams.page_break_placeholder
    (reference markdown.py:89,795-810): 'page_break' spans (emitted by
    normalize_pdf_spans(emit_page_breaks=True)) render as the placeholder
    block when set and are dropped when None (the reference default)."""
    fmt = _MARKDOWN
    if page_break_placeholder is not None:
        page_break = {"page_break": lambda d, t, r: page_break_placeholder + "\n"}
        fmt = fmt._replace(single={**fmt.single, **page_break})
    return _render(spans, fmt)


def markdown_sink(df, page_break_placeholder: "str | None" = None):
    """normalized documents → (doc_id, markdown). An optional `fmt` column
    (array<string> aligned with spans, flags ⊆ "BIUS") switches the spans it
    marks to docling-core-rule formatted rendering. `page_break_placeholder`
    renders 'page_break' spans as that block (reference
    MarkdownParams.page_break_placeholder); None (default) drops them."""

    def rows(doc_id, spans):
        return [(doc_id, render_markdown(spans, page_break_placeholder))]

    return map_documents(df, rows, "doc_id string, markdown string", with_fmt=True)


# ---------------------------------------------------------------------------
# HTML (the reference's serializer matrix ships an HTML serializer:
# docling_code/docling-core-main/docling_core/transforms/serializer/html.py
# — headings h1-h6 via escaped text :135-180, tables as
# <table><tbody><tr><th|td> with th for header cells :344-415, pictures as
# <figure><img/></figure> :336, captions via serialize_captions. Re-expressed
# here at our span granularity; same escaping rules.)
# ---------------------------------------------------------------------------

_HTML_HEADING_TAG = {
    "title": "h1",
    "part": "h1",
    "section_header": "h2",
    "paragraph": "h2",
    "paragraph_title": "h3",
    "annex": "h2",
}


def _esc(text: str) -> str:
    """html.escape(quote=False) + newline→<br>, as the reference's text
    serializer does (html.py:162-163)."""
    import html as _html

    return _html.escape(text or "", quote=False).replace("\n", "<br>")


def _esc_attr(text: str) -> str:
    """Attribute-position escaping (img src/alt): quote=True so a '"' in
    span text or media_ref cannot break out of the attribute."""
    import html as _html

    return _html.escape(text or "", quote=True).replace("\n", "<br>")


def _html_table(rows: List[List[str]]) -> str:
    # cells arrive stripped + escaped like html.py:387
    body = []
    for r, row in enumerate(rows):
        tag = "th" if r == 0 else "td"
        body.append("<tr>" + "".join(f"<{tag}>{c}</{tag}>" for c in row) + "</tr>")
    return "<table><tbody>" + "".join(body) + "</tbody></table>"


def _html_kv(region: _KvRegion) -> str:
    # flat <dl> inside a classed <div> — the reference's no-hierarchy graph
    # rendering (html.py:585-598; wrapper classes 654-726); html.escape with
    # default quote=True exactly as the reference does
    import html as _h

    cls = _KV_KEY_KINDS[region.kind]
    lines = [f'<div class="{cls}">', f'<dl class="{cls}">']
    for k, vals in region.items():
        lines.append(f"<dt>{_h.escape(k)}</dt>")
        lines += [f"<dd>{_h.escape(v)}</dd>" for v in vals]
    return "\n".join(lines + ["</dl>", "</div>"])


_HTML = _Format(
    esc=_esc,
    post=_html_post_process,
    strip_cells=True,
    single={
        **{k: (lambda d, t, r, g=g: f"<{g}>{d}</{g}>")
           for k, g in {**_HTML_HEADING_TAG, "caption": "figcaption"}.items()},
        **dict.fromkeys(_BOLD_KINDS, lambda d, t, r: f"<p><b>{d}</b></p>"),
        "media": lambda d, t, r: (
            f'<figure><img src="{_esc_attr(r)}" alt="{_esc_attr(t)}" /></figure>'
        ),
        "page_break": lambda d, t, r: None,
        # picture annotation text (classification class / description /
        # molecule SMILES — reader maps per common.py:136-151) rendered as a
        # caption under the preceding figure
        "picture_annotation": lambda d, t, r: (
            f'<figcaption class="annotation">{d}</figcaption>'
        ),
    },
    para=lambda parts: f"<p>{' '.join(parts)}</p>",
    list=lambda items: "\n".join(["<ul>", *(f"<li>{x}</li>" for x in items), "</ul>"]),
    table=_html_table,
    kv=_html_kv,
    join=lambda out: "\n".join(out) + ("\n" if out else ""),
)


def render_html(spans: List[Span]) -> str:
    """One document's normalized spans → HTML body fragment (modes: `_render`)."""
    return _render(spans, _HTML)


def html_sink(df):
    """normalized documents → (doc_id, html). Same zero-shuffle mapInArrow
    shape as markdown_sink; honors the same optional `fmt` column."""
    return map_documents(df, _html_rows, "doc_id string, html string", with_fmt=True)


def _html_rows(doc_id, spans):
    return [(doc_id, render_html(spans))]


# ---------------------------------------------------------------------------
# LaTeX (the reference serializer matrix's fourth format:
# transforms/serializer/latex.py — _escape_latex char map :99-122, title as
# \title :172, section levels 1-3 → \section/\subsection/\subsubsection
# :180-195, bold :600-602, itemize lists :515-527 with \item :167, tables
# as \begin{table}[h] + tabular with |l|...| colspec and
# "cells & ... \\ \hline" rows :325-356. Re-expressed at span granularity;
# parts joined with blank lines like the reference's "\n\n".join.)
# ---------------------------------------------------------------------------

_LATEX_ESCAPES = {
    "\\": r"\textbackslash{}",
    "{": r"\{",
    "}": r"\}",
    "#": r"\#",
    "$": r"\$",
    "%": r"\%",
    "&": r"\&",
    "_": r"\_",
    "~": r"\textasciitilde{}",
    "^": r"\textasciicircum{}",
}

_LATEX_HEADING_CMD = {
    "title": "title",
    "part": "section",
    "section_header": "subsection",
    "paragraph": "subsection",
    "annex": "subsection",
    "paragraph_title": "subsubsection",
}


def _latex_escape(text: str) -> str:
    """Per-char map, replacements never re-scanned (latex.py:99-122)."""
    return "".join(_LATEX_ESCAPES.get(ch, ch) for ch in (text or ""))


def _latex_post_process(text: str, fmt: str, hyperlink: Optional[str]) -> str:
    """docling-core LaTeX post_process for one formatted span: escaped text
    wrapped \\textbf/\\textit/\\underline/\\sout in the common.py:509-524
    application order, \\href (escaped URL argument) outermost
    (latex.py:599-639)."""
    res = _latex_escape(text or "")
    if "B" in fmt:
        res = f"\\textbf{{{res}}}"
    if "I" in fmt:
        res = f"\\textit{{{res}}}"
    if "U" in fmt:
        res = f"\\underline{{{res}}}"
    if "S" in fmt:
        res = f"\\sout{{{res}}}"
    if hyperlink:
        res = f"\\href{{{_latex_escape(hyperlink)}}}{{{res}}}"
    return res


def _latex_table(rows: List[List[str]]) -> str:
    colspec = "|" + "|".join(["l"] * max(len(r) for r in rows)) + "|"
    lines = [f"\\begin{{tabular}}{{{colspec}}}", "\\hline"]
    lines += [" & ".join(row) + r" \\ \hline" for row in rows]
    return "\\begin{table}[h]\n" + "\n".join(lines) + "\n\\end{tabular}\n\\end{table}"


def _latex_kv(region: _KvRegion) -> str:
    # description list — LaTeX's native key-value construct (the reference
    # LaTeX serializer has no kv branch; semantics follow the HTML sink's
    # grouped <dl> rendering, html.py:585-598)
    items = "\n".join(
        f"\\item[{_latex_escape(k)}] " + ", ".join(_latex_escape(v) for v in vals)
        for k, vals in region.items()
    )
    return "\\begin{description}\n" + items + "\n\\end{description}"


def _latex_figure(text, ref) -> str:
    body = f"\\includegraphics{{{ref}}}\n" if ref else ""
    return ("\\begin{figure}[h]\n" + body
            + f"\\caption{{{_latex_escape(text)}}}\n\\end{{figure}}")


_LATEX = _Format(
    esc=_latex_escape,
    post=_latex_post_process,
    strip_cells=True,
    single={
        **{k: (lambda d, t, r, c=c: f"\\{c}{{{d}}}")
           for k, c in {**_LATEX_HEADING_CMD, "caption": "caption"}.items()},
        **dict.fromkeys(_BOLD_KINDS, lambda d, t, r: f"\\textbf{{{d}}}"),
        "page_break": lambda d, t, r: None,
        "media": lambda d, t, r: _latex_figure(t, r),
    },
    para=" ".join,
    list=lambda items: (
        "\\begin{itemize}\n" + "\n".join(f"\\item {x}" for x in items)
        + "\n\\end{itemize}"
    ),
    table=_latex_table,
    kv=_latex_kv,
    join=lambda out: "\n\n".join(out) + ("\n" if out else ""),
)


def render_latex(spans: List[Span]) -> str:
    """One document's normalized spans → LaTeX body fragment (modes: `_render`)."""
    return _render(spans, _LATEX)


def latex_sink(df):
    """normalized documents → (doc_id, latex). Zero-shuffle mapInArrow;
    honors the same optional `fmt` column as markdown_sink/html_sink."""
    return map_documents(df, _latex_rows, "doc_id string, latex string", with_fmt=True)


def _latex_rows(doc_id, spans):
    return [(doc_id, render_latex(spans))]


# ---------------------------------------------------------------------------
# doctags (the reference serializer matrix's third format:
# transforms/serializer/doctags.py — every item wrapped in its
# DocumentToken (<title>, <section_header_level_N>, <text>, <footnote>,
# <caption>, <picture>, <list_item> inside <unordered_list>), tables as
# OTSL token streams (types/doc/tokens.py:9-25 — <ched> column header,
# <fcel> full, <ecel> empty, <nl> row end; span-looking cells lcel/ucel/xcel
# don't occur in our span model), document wrapped in <doctag>. Text is not
# escaped, formatting flags are ignored, and there is no kv construct: kv
# spans stay <text> items in input order.)
# ---------------------------------------------------------------------------

_DOCTAG_HEADING = {
    "title": "title",
    "part": "section_header_level_1",
    "section_header": "section_header_level_2",
    "paragraph": "section_header_level_2",
    "annex": "section_header_level_2",
    "paragraph_title": "section_header_level_3",
}


def _doctags_table(rows: List[List[str]]) -> str:
    ncols = max(len(r) for r in rows)
    toks: List[str] = []
    for r, row in enumerate(rows):
        cell_tok = "ched" if r == 0 else "fcel"
        for c in range(ncols):
            text = row[c] if c < len(row) else ""
            toks.append(f"<{cell_tok}>{text}" if text else "<ecel>")
        toks.append("<nl>")
    return "<otsl>" + "".join(toks) + "</otsl>"


_DOCTAGS = _Format(
    esc=str,
    post=None,
    strip_cells=True,
    single={
        **{k: (lambda d, t, r, g=g: f"<{g}>{d}</{g}>")
           for k, g in {**_DOCTAG_HEADING, "caption": "caption",
                        "footnote": "footnote"}.items()},
        "page_break": lambda d, t, r: "<page_break>",
        "media": lambda d, t, r: f"<picture>{t}</picture>",
    },
    # text, odsek, pismeno, subitem, error, kv — plain text items
    para=lambda parts: f"<text>{' '.join(parts)}</text>",
    list=lambda items: "\n".join(
        ["<unordered_list>", *(f"<list_item>{x}</list_item>" for x in items),
         "</unordered_list>"]
    ),
    table=_doctags_table,
    kv=None,
    join=lambda out: "<doctag>" + "\n".join(out) + "</doctag>\n",
)


def render_doctags(spans: List[Span]) -> str:
    """One document's normalized spans → doctags token stream."""
    return _render(spans, _DOCTAGS)


def doctags_sink(df):
    """normalized documents → (doc_id, doctags). Zero-shuffle mapInArrow."""
    return map_documents(df, _doctags_rows, "doc_id string, doctags string")


def _doctags_rows(doc_id, spans):
    return [(doc_id, render_doctags(spans))]


# ---------------------------------------------------------------------------
# law-level chunking (K5): one chunk per unit at the chosen level, with
# parent headings as context
# ---------------------------------------------------------------------------

_LEVEL_KINDS = ("part", "paragraph", "odsek", "pismeno")


def chunk_document(doc_id: str, spans: List[Span], level: str = "odsek") -> List[tuple]:
    """Chunk one document at `level`; annexes and footnotes chunk whole
    (chunk_to_markdown.py:679-733). Returns CHUNK_SCHEMA tuples."""
    cut_at = _LEVEL_KINDS.index(level)
    chunks: List[tuple] = []
    headings: List[str] = []  # heading stack: [title, part, §, ...]
    cur_key: Optional[str] = None
    cur_level: Optional[str] = None
    buf: List[str] = []

    def close() -> None:
        nonlocal buf, cur_key, cur_level
        if cur_key is not None and buf:
            content = "\n".join(buf)
            chunks.append(
                (
                    doc_id,
                    f"{doc_id}/{cur_key}",
                    cur_level,
                    content,
                    list(headings),
                    len(content),
                )
            )
        buf = []
        cur_key = None

    for kind, text, ref in spans:
        if kind == "title":
            headings = [text]
            continue
        if kind in ("part", "paragraph"):
            idx = _LEVEL_KINDS.index(kind)
            if idx <= cut_at:
                close()
                headings = headings[: 1 + idx] + [text]
                if idx == cut_at:
                    cur_key = (ref or text).lstrip("#")
                    cur_level = kind
                continue
        if kind in ("odsek", "pismeno"):
            idx = _LEVEL_KINDS.index(kind)
            if idx == cut_at:
                close()
                cur_key = (ref or text).lstrip("#")
                cur_level = kind
                buf.append(text)
                continue
            if idx < cut_at:
                close()
                continue
        if kind in ("annex", "footnote"):
            close()
            cur_key = (ref or text).lstrip("#")
            cur_level = kind
            buf.append(text)
            continue
        if kind in ("paragraph_title", "section_header"):
            if cur_key is None:
                headings = headings + [text]
            else:
                buf.append(text)
            continue
        if cur_key is not None and kind in ("text", "subitem", "table_cell", "list_item"):
            buf.append(text)
    close()
    return chunks


def export_chunks(chunks: List[tuple], fmt: str) -> str:
    """S8: one document's chunks → the reference's per-format payload
    (chunk_to_markdown.py:771-868 — save_chunks writes `.chunks.json`,
    `.chunks.md` with '---' separators, and `.rag.json`
    {"chunks":[{text, metadata}]}; byte-layout mirrored incl. indent=2)."""
    import json as _json

    dicts = [
        {
            "chunk_id": cid,
            "level": lvl,
            "content": content,
            "headings": list(heads),
            "content_length": clen,
        }
        for (_doc, cid, lvl, content, heads, clen) in chunks
    ]
    if fmt == "json":
        return _json.dumps(dicts, ensure_ascii=False, indent=2)
    if fmt == "md":
        parts: List[str] = []
        for i, d in enumerate(dicts):
            if i > 0:
                parts.append("\n\n---\n")
            parts.append(d["content"])
        return "\n".join(parts)
    if fmt == "rag":
        rag = {
            "chunks": [
                {
                    "text": d["content"],
                    "metadata": {
                        "chunk_id": d["chunk_id"],
                        "level": d["level"],
                        "headings": d["headings"],
                        "content_length": d["content_length"],
                    },
                }
                for d in dicts
            ]
        }
        return _json.dumps(rag, ensure_ascii=False, indent=2)
    raise ValueError(f"unknown chunk export format: {fmt!r}")


def chunk_export_sink(df, fmt: str, level: str = "odsek"):
    """normalized documents → (doc_id, payload) in the chosen export format
    ('json' | 'md' | 'rag'). Document-local: chunking + formatting fuse into
    the same zero-shuffle mapInArrow stage (the reference writes one file
    per law; the Spark-native form is one payload row per doc, written by
    the caller's sink of choice)."""

    def rows(doc_id, spans):
        return [(doc_id, export_chunks(chunk_document(doc_id, spans, level), fmt))]

    return map_documents(df, rows, "doc_id string, payload string")


def chunk_sink(df, level: str = "odsek"):
    """normalized documents → chunk table (CHUNK_DDL), one row per chunk."""

    def rows(doc_id, spans):
        return chunk_document(doc_id, spans, level)

    return map_documents(df, rows, CHUNK_DDL)


# ---------------------------------------------------------------------------
# Azure sink (the reference serializer matrix's fifth format:
# transforms/serializer/azure.py — a JSON accumulator over the document
# traversal mirroring the Azure Document Intelligence layout output:
# pages :505-515, paragraphs with role mapping :176-230, tables with
# anchor-only spanning cells + header kinds :235-310, figures with resolved
# footnote refs :313-361, TOPLEFT polygon normalization :77-100,
# exclude_none model dump + json.dumps(ensure_ascii=False) :516-519.
# Operates on the raw docling-JSON payload (the serializer's input IS the
# DoclingDocument); traversal follows body.children pointer order like
# read_docling_json.)
# ---------------------------------------------------------------------------

_AZURE_ROLE = {
    "title": "title",
    "section_header": "sectionHeading",
    "footnote": "footnote",
    "page_header": "pageHeader",
    "page_footer": "pageFooter",
}


def _az_dict(x) -> dict:
    """Malformed payloads degrade per-item, never fail the task."""
    return x if isinstance(x, dict) else {}


def _az_list(x) -> list:
    return x if isinstance(x, list) else []


def _azure_polygon(prov, pages: dict) -> "tuple[list | None, int]":
    """First-provenance polygon [l,t, r,t, r,b, l,b], normalized to TOPLEFT
    origin when the page size is known (azure.py:77-100 + the reference
    BoundingBox.to_top_left_origin: t'=h-t, b'=h-b). Returns (polygon,
    page_no); polygon None when the item carries no usable bbox — the
    caller then SKIPS the item, exactly the reference's gating."""
    prov = _az_list(prov)
    if not prov:
        return None, 1
    p = _az_dict(prov[0])
    page_no = p.get("page_no", 1)
    if not isinstance(page_no, int):
        page_no = 1
    bbox = _az_dict(p.get("bbox"))
    l, t, r, b = (bbox.get(k) for k in ("l", "t", "r", "b"))
    if any(not isinstance(x, (int, float)) or isinstance(x, bool)
           for x in (l, t, r, b)):
        return None, page_no
    size = _az_dict(_az_dict(pages.get(str(page_no))).get("size"))
    h = size.get("height")
    if isinstance(h, (int, float)) and not isinstance(h, bool) \
            and str(bbox.get("coord_origin", "TOPLEFT")).upper() != "TOPLEFT":
        t, b = h - t, h - b
    return [l, t, r, t, r, b, l, b], page_no


def render_azure(payload: str, indent: "int | None" = None) -> str:
    """One docling-JSON payload → the Azure-layout JSON string.

    Structure and field order mirror the reference's pydantic models
    (azure.py:120-174): pages(pageNumber, width, height, words=[]),
    tables(rowCount, columnCount, boundingRegions, cells), figures
    (boundingRegions[, footnotes]), paragraphs(content, boundingRegions
    [, role]) — None-valued optionals dropped (model_dump(exclude_none)),
    json.dumps(ensure_ascii=False, indent=indent) byte-for-byte."""
    import json as _json

    if isinstance(payload, str):
        try:
            payload = _json.loads(payload)
        except (ValueError, RecursionError):  # truncated, or nested past the parser's stack
            payload = None
    d = _az_dict(payload)
    pages = _az_dict(d.get("pages"))
    texts = _az_list(d.get("texts"))
    tables = _az_list(d.get("tables"))
    pictures = _az_list(d.get("pictures"))

    out_tables: list = []
    out_figures: list = []
    out_paragraphs: list = []

    def _text_paragraph(t: dict) -> "dict | None":
        t = _az_dict(t)
        poly, page_no = _azure_polygon(t.get("prov"), pages)
        content = t.get("text")
        content = content if isinstance(content, str) else ""
        if content == "" and poly is not None:
            return None
        if poly is None:
            return None
        para = {
            "content": content,
            "boundingRegions": [{"pageNumber": page_no, "polygon": poly}],
        }
        role = _AZURE_ROLE.get(t.get("label"))
        if role is not None:
            para["role"] = role
        return para

    def _visit_text(t: dict) -> None:
        para = _text_paragraph(t)
        if para is not None:
            out_paragraphs.append(para)

    def _visit_table(tb: dict) -> None:
        tb = _az_dict(tb)
        poly, page_no = _azure_polygon(tb.get("prov"), pages)
        if poly is None:
            return
        data = _az_dict(tb.get("data"))
        grid = _az_list(data.get("grid"))
        cells = []
        for i, row in enumerate(grid):
            for j, cell in enumerate(_az_list(row)):
                cell = cell if isinstance(cell, dict) else None
                if cell is None:
                    continue
                if (i != cell.get("start_row_offset_idx")
                        or j != cell.get("start_col_offset_idx")):
                    continue  # spanning cells materialize once, at the anchor
                ctext = cell.get("text")
                c = {
                    "content": (ctext if isinstance(ctext, str) else "").strip(),
                    "rowIndex": cell.get("start_row_offset_idx"),
                    "columnIndex": cell.get("start_col_offset_idx"),
                    "rowSpan": max(cell.get("row_span") or 1, 1),
                    "colSpan": max(cell.get("col_span") or 1, 1),
                }
                kind = ("columnHeader" if cell.get("column_header")
                        else ("rowHeader" if cell.get("row_header") else None))
                if kind is not None:
                    c["kind"] = kind
                cb = _az_dict(cell.get("bbox"))
                if all(isinstance(cb.get(k), (int, float))
                       and not isinstance(cb.get(k), bool)
                       for k in ("l", "t", "r", "b")):
                    l, t, r, b = (cb.get(k) for k in ("l", "t", "r", "b"))
                    size = _az_dict(_az_dict(pages.get(str(page_no))).get("size"))
                    h = size.get("height")
                    if isinstance(h, (int, float)) and not isinstance(h, bool) \
                            and str(cb.get("coord_origin", "TOPLEFT")).upper() != "TOPLEFT":
                        t, b = h - t, h - b
                    c["boundingRegions"] = [
                        {"pageNumber": page_no, "polygon": [l, t, r, t, r, b, l, b]}
                    ]
                cells.append(c)
        out_tables.append({
            "rowCount": data.get("num_rows"),
            "columnCount": data.get("num_cols"),
            "boundingRegions": [{"pageNumber": page_no, "polygon": poly}],
            "cells": cells,
        })

    def _visit_picture(pic: dict) -> None:
        pic = _az_dict(pic)
        poly, page_no = _azure_polygon(pic.get("prov"), pages)
        if poly is None:
            return
        fig = {"boundingRegions": [{"pageNumber": page_no, "polygon": poly}]}
        foots = []
        for ref in _az_list(pic.get("footnotes")):
            m = re.match(r"^#/texts/(\d+)$", str(_az_dict(ref).get("$ref", "")))
            if not m or int(m.group(1)) >= len(texts):
                continue
            tgt = _az_dict(texts[int(m.group(1))])
            f_poly, f_page = _azure_polygon(tgt.get("prov"), pages)
            if f_poly is not None:
                f_text = tgt.get("text")
                foots.append({
                    "content": f_text if isinstance(f_text, str) else "",
                    "boundingRegions": [{"pageNumber": f_page, "polygon": f_poly}],
                })
        if foots:
            fig["footnotes"] = foots
        out_figures.append(fig)

    groups = _az_list(d.get("groups"))

    def _visit_children(children: list) -> None:
        # groups (lists, inline containers) emit nothing themselves — their
        # children flatten into the traversal (azure.py:398-431), walked
        # depth-first from a stack of pending children (next one on top), so
        # group nesting depth is bounded only by memory
        seen_groups: set = set()
        work = children[::-1]
        while work:
            ch = work.pop()
            ref = str(_az_dict(ch).get("$ref", ""))
            m = re.match(r"^#/(texts|tables|pictures|groups)/(\d+)$", ref)
            if not m:
                continue
            kind, idx = m.group(1), int(m.group(2))
            if kind == "texts" and idx < len(texts):
                _visit_text(texts[idx])
            elif kind == "tables" and idx < len(tables):
                _visit_table(tables[idx])
            elif kind == "pictures" and idx < len(pictures):
                _visit_picture(pictures[idx])
            elif kind == "groups" and idx < len(groups) and idx not in seen_groups:
                seen_groups.add(idx)  # cycle guard on malformed payloads
                work.extend(_az_list(_az_dict(groups[idx]).get("children"))[::-1])

    children = _az_dict(d.get("body")).get("children")
    children = children if isinstance(children, list) else None
    if children is not None:
        _visit_children(children)
    else:  # payloads without a body: texts, then tables, then pictures
        for t in texts:
            _visit_text(t)
        for tb in tables:
            _visit_table(tb)
        for pic in pictures:
            _visit_picture(pic)

    out_pages = []
    page_nos = sorted(int(k) for k in pages if str(k).lstrip("-").isdigit())
    for page_no in page_nos:
        size = _az_dict(pages.get(str(page_no))).get("size")
        if isinstance(size, dict):
            out_pages.append({
                "pageNumber": page_no,
                "width": size.get("width"),
                "height": size.get("height"),
                "words": [],
            })
    data = {
        "pages": out_pages,
        "tables": out_tables,
        "figures": out_figures,
        "paragraphs": out_paragraphs,
    }
    return _json.dumps(data, ensure_ascii=False, indent=indent)


def azure_sink(df, json_col: str = "payload", indent: "int | None" = None):
    """(doc_id, payload docling-JSON) → (doc_id, azure): `render_azure` per
    row in one zero-shuffle Arrow map (`docmap.map_rows`; its input is a
    JSON payload column, not spans). The per-doc payload parse + accumulator
    fold is the serializer itself (the reference's is the same per-document
    fold over pydantic objects)."""

    def row(doc_id, payload):
        return [(doc_id, render_azure(payload, indent))]

    return map_rows(df, row, ("doc_id", json_col), "doc_id string, azure string")
