"""Unit tests for the per-document extraction stages: sniff, HTML extract,
PDF normalize, hierarchy state machine (pure Python, no Spark)."""

import random

import pytest

from docling_spark.operators.hierarchy import reconstruct
from docling_spark.operators.html_extract import extract_html_spans
from docling_spark.operators.pdf_extract import normalize_pdf_spans, _split_merged_row
from docling_spark.operators.sniff import sniff_doc, HTML, PDF_LIKE, DOCLING
from docling_spark.pipeline import extract_document
from docling_spark.synth import synth_html_law, synth_pdf_annex, synth_docling_stream


def _spans_of(doc):
    return [(s["kind"], s["text"], s["media_ref"]) for s in doc]


# --- sniff --------------------------------------------------------------------


def test_sniff_three_formats():
    rng = random.Random(1)
    assert sniff_doc(_spans_of(synth_html_law("x", rng))) == HTML
    assert sniff_doc(_spans_of(synth_pdf_annex("x", rng))) == PDF_LIKE
    assert sniff_doc(_spans_of(synth_docling_stream("x", rng))) == DOCLING


# --- HTML extraction -----------------------------------------------------------

_MINI_HTML = """
<html><head><title>Zákon č. 1/2020 Z. z.</title></head><body>
<div class="menu"><span>button-search</span></div>
<div class="paragraf" id="paragraf-1">
 <div class="paragrafOznacenie"><a href="#paragraf-1">§ 1</a></div>
 <div class="paragrafNadpis">Predmet</div>
 <div class="odsek" id="paragraf-1.odsek-1">
  <div class="odsekOznacenie"><a href="#paragraf-1.odsek-1">(1)</a></div>
  <div class="text">Obsah odseku s odkazom na <a href="#paragraf-2">§ 2 ods. 1</a> zákona.</div>
  <div class="pismeno" id="paragraf-1.odsek-1.pismeno-a">
   <div class="pismenoOznacenie"><a href="#paragraf-1.odsek-1.pismeno-a">a)</a></div>
   <div class="text">prvé písmeno</div>
   <div class="bod"><div class="bodOznacenie">1.</div><div class="text">prvý bod</div></div>
  </div>
 </div>
</div>
<div class="footer">Ministerstvo spravodlivosti</div>
</body></html>
"""


def test_html_extract_flat_stream():
    spans = extract_html_spans(_MINI_HTML)
    kinds = [s[0] for s in spans]
    texts = [s[1] for s in spans]
    assert ("title", "Zákon č. 1/2020 Z. z.", None) in spans
    assert ("text", "§ 1", "#paragraf-1") in spans
    assert ("section_header", "Predmet", None) in spans
    assert ("text", "(1)", "#paragraf-1.odsek-1") in spans
    # embedded cross-reference keeps its anchor but stays a text run
    assert ("text", "§ 2 ods. 1", "#paragraf-2") in spans
    # bod marker carries NO hyperlink (no <a> anchor)
    assert ("text", "1.", None) in spans
    # furniture flagged for the strip stage
    assert "page_footer" in kinds
    assert any("Ministerstvo" in t for k, t in zip(kinds, texts) if k == "page_footer")


_DEEP = 20_000
# (payload, expected span) — each but the last nests _DEEP elements
_DEEP_SHAPES = {
    # unclosed <p> tags inside a content div: one run of all their text
    "unclosed_p": ('<div class="text">' + "<p>x " * _DEEP + "</div>",
                   ("text", " ".join(["x"] * _DEEP), None, "")),
    # generic containers around a marker div
    "nested_div": ("<div>" * _DEEP
                   + '<div class="odsekOznacenie"><a href="#o1">(1)</a></div>'
                   + "</div>" * _DEEP,
                   ("text", "(1)", "#o1", "")),
    # formatting tags around an anchor (hyperlink + flag lookups walk them)
    "nested_b": ('<div class="text">' + "<b>" * _DEEP + '<a href="#x">x</a></div>',
                 ("text", "x", "#x", "B")),
    # an attribute named like an internal memo key is just an attribute
    "nul_attr": ('<div class="text" \x00cls="x">hello</div>',
                 ("text", "hello", None, "")),
}


@pytest.mark.parametrize("with_formatting", [False, True], ids=["plain", "formatted"])
@pytest.mark.parametrize("prefix", ["", "<!-- c -->"], ids=["fast", "robust"])
@pytest.mark.parametrize("shape", sorted(_DEEP_SHAPES))
def test_html_extract_deep_nesting(shape, prefix, with_formatting):
    # a document nested deeper than Python's recursion limit is extracted,
    # not lost to a RecursionError or another engine limit
    payload, (kind, text, ref, fmt) = _DEEP_SHAPES[shape]
    spans = extract_html_spans(prefix + payload, with_formatting=with_formatting)
    assert spans == ([(kind, text, ref, fmt)] if with_formatting else [(kind, text, ref)])


_LINK_DIV = '<div class="text">intro <a href="#a">x</a> tail'


@pytest.mark.parametrize("html, expected", [
    # plain mode: the content div's first <a href> rides every text run
    (_LINK_DIV + "</div>",
     [("text", "intro", "#a"), ("text", "x", "#a"), ("text", "tail", "#a")]),
    # ... unless a child is a div, even a later one
    (_LINK_DIV + "<div>y</div></div>",
     [("text", "intro", None), ("text", "x", "#a"), ("text", "tail", None),
      ("text", "y", None)]),
    # ... or a marker-class element, even a later one
    (_LINK_DIV + ' <span class="odsekOznacenie">(2)</span></div>',
     [("text", "intro", None), ("text", "x", "#a"), ("text", "tail (2)", None)]),
    # an anchor nested in an inline child still counts, wherever it comes
    ('<div class="text">intro <b>bold <a href="#late">l</a></b> tail</div>',
     [("text", "intro bold l tail", "#late")]),
    # an img splits the run but does not take the link away
    ('<div class="text">intro <img src="i.png" alt="pic"> tail <a href="#a">x</a></div>',
     [("text", "intro", "#a"), ("media", "pic", "i.png"), ("text", "tail", "#a"),
      ("text", "x", "#a")]),
])
def test_content_div_hyperlink_rule(html, expected):
    assert extract_html_spans(html) == expected


def test_hierarchy_on_mini_html():
    out = reconstruct(extract_html_spans(_MINI_HTML))
    assert out == [
        ("title", "Zákon č. 1/2020 Z. z.", None),
        ("paragraph", "§ 1", "#paragraf-1"),
        ("paragraph_title", "Predmet", None),
        ("odsek", "(1)", "#paragraf-1.odsek-1"),
        (
            "text",
            "Obsah odseku s odkazom na § 2 ods. 1 zákona.",
            "#paragraf-1.odsek-1",
        ),
        ("pismeno", "a)", "#paragraf-1.odsek-1.pismeno-a"),
        ("text", "prvé písmeno", "#paragraf-1.odsek-1.pismeno-a"),
        ("subitem", "1.", "#paragraf-1.odsek-1.pismeno-a.bod-1"),
        ("text", "prvý bod", "#paragraf-1.odsek-1.pismeno-a.bod-1"),
    ]


def test_hierarchy_pismeno_reference_not_marker():
    # "a)" right after a 'v písmene' cue is a reference, not a new unit (F11)
    spans = [
        ("text", "§ 1", "#paragraf-1"),
        ("text", "(1)", "#paragraf-1.odsek-1"),
        ("text", "ako je uvedené v písmene", None),
        ("text", "a)", None),
        ("text", "tohto odseku.", None),
    ]
    out = reconstruct(spans)
    assert not any(k == "pismeno" for k, _, _ in out)
    joined = [t for k, t, _ in out if k == "text"]
    assert joined == ["ako je uvedené v písmene a) tohto odseku."]


def test_hierarchy_footnotes_and_furniture_end():
    spans = [
        ("text", "Poznámky", "#poznamky"),
        ("text", "1)", None),
        ("text", "Zákon č. 40/1964 Zb.", None),
        ("page_footer", "Strana 99", None),
        ("text", "po pätičke už nie sme v poznámkach", None),
    ]
    out = reconstruct(spans)
    assert ("section_header", "Poznámky", "#poznamky") in out
    assert ("footnote", "1)", "#poznamky.poznamka-1") in out
    assert ("text", "Zákon č. 40/1964 Zb.", "#poznamky.poznamka-1") in out
    # furniture ended footnote mode → trailing text has no poznamka ref
    assert ("text", "po pätičke už nie sme v poznámkach", None) in out


def test_hierarchy_law_end_starts_annex_mode():
    spans = [
        ("text", "§ 1", "#paragraf-1"),
        ("text", "(1)", "#paragraf-1.odsek-1"),
        ("text", "obsah", None),
        ("text", "Tento zákon nadobúda účinnosť 1. januára 2004.", None),
        ("text", "Príloha č. 1 k zákonu č. 1/2020 Z. z.", None),
        ("text", "obsah prílohy", None),
    ]
    out = reconstruct(spans)
    assert ("annex", "Príloha č. 1 k zákonu č. 1/2020 Z. z.", "#priloha-1") in out
    assert ("text", "obsah prílohy", "#priloha-1") in out


# --- PDF normalize --------------------------------------------------------------


def test_pdf_reading_order_and_reconstruction():
    rng = random.Random(3)
    out = normalize_pdf_spans(_spans_of(synth_pdf_annex("a", rng)))
    kinds = [s[0] for s in out]
    # annex title first, tables reconstructed at their stream position,
    # notes after tables
    assert kinds[0] == "annex"
    assert "table_cell" in kinds
    first_cell = kinds.index("table_cell")
    assert kinds[first_cell - 1] == "section_header"  # group header precedes
    notes_pos = [i for i, s in enumerate(out) if s[1] == "Poznámky"]
    assert notes_pos and notes_pos[0] > first_cell
    # header row is Položka/KP/Názov
    cells = [s for s in out if s[0] == "table_cell"]
    assert [c[1] for c in cells[:3]] == ["Položka", "KP", "Názov"]
    # item rows sorted by int suffix and rows are (item, kp, name) triples
    items = [c[1] for c in cells[3::3]]
    assert items == sorted(items, key=lambda x: int(x.split("-")[1]))
    # backfill item (loose text "N-M KP Name") landed in the table
    assert any("Motory" in c[1] for c in cells)
    # no /c codes survive
    assert not any("/c" in (s[1] or "") for s in out)


def test_split_merged_row():
    rows = _split_merged_row("4-15", "4-16", "28.11", "Motory piestovéČerpadlá vodné")
    assert rows == [("4-15", "28.11", "Motory piestové"), ("4-16", "28.11", "Čerpadlá vodné")]


# --- full dispatch ---------------------------------------------------------------


def test_extract_document_dispatch_deterministic():
    rng1, rng2 = random.Random(9), random.Random(9)
    a = extract_document(_spans_of(synth_html_law("x", rng1)))
    b = extract_document(_spans_of(synth_html_law("x", rng2)))
    assert a == b
    rng = random.Random(5)
    out = extract_document(_spans_of(synth_docling_stream("x", rng)))
    assert any(k == "table_cell" for k, _, _ in out)
    assert not any(k in ("page_footer", "page_header") for k, _, _ in out)


# ---------------------------------------------------------------------------
# F15: table-content text exclusion
# ---------------------------------------------------------------------------


def test_f15_exclusion_set_and_matcher():
    from docling_spark.functions.table_content import build_exclusion_set, is_table_content

    excl = build_exclusion_set(["Dojnice živé", "01.41.10", "1-1", ""])
    # exact normalized hit
    assert is_table_content("dojnice živé", excl)
    # meaningful-word hit (word > 3 chars from a multi-word cell)
    assert is_table_content("tu sa spomína dojnice v texte", excl)
    # row-shaped fragment "N-M KP Desc"
    assert is_table_content("1-9 01.41.10 Kravy", excl)
    assert is_table_content("- 1-9 01.41.10 Kravy", excl)
    # bare KP code / bare item number
    assert is_table_content("28.93", excl)
    assert is_table_content("1-4", excl)
    # ≥2 code fragments
    assert is_table_content("23.44 25.73", excl)
    # guards: too short, no hit
    assert not is_table_content("ab", excl)
    assert not is_table_content("úplne iný text bez zhody", excl)


def test_f15_pdf_text_duplicating_table_dropped():
    from docling_spark.operators.pdf_extract import normalize_pdf_spans

    raw = [
        ("pdf_cell", "Odpisová skupina 1", "p=1;l=10;t=100"),
        ("pdf_cell", "1-1", "p=1;l=10;t=90"),
        ("pdf_cell", "01.41.10", "p=1;l=60;t=90"),
        ("pdf_cell", "Dojnice", "p=1;l=120;t=90"),
        # flowed text later on the page duplicating the row (should drop)
        ("pdf_cell", "1-1 01.41.10 Dojnice", "p=1;l=10;t=50"),
        # unrelated prose (should survive)
        ("pdf_cell", "Tento odsek hovorí niečo úplne iné.", "p=1;l=10;t=40"),
    ]
    out = normalize_pdf_spans(raw)
    texts = [t for k, t, _ in out if k == "text"]
    assert "Tento odsek hovorí niečo úplne iné." in texts
    assert all("01.41.10" not in t for t in texts)
    # the table itself still has the cell
    cells = [t for k, t, _ in out if k == "table_cell"]
    assert "01.41.10" in cells


# --- page breaks (stretch parity: MarkdownParams.page_break_placeholder) -----


def test_pdf_page_breaks_golden():
    """Two-page PDF-like doc: emit_page_breaks threads one page_break span
    per content page transition (common.py:86-131 semantics — one break per
    consecutive-content pair, so an empty middle page yields ONE break) and
    markdown_sink-style rendering substitutes the placeholder
    (markdown.py:89,795-810); default call keeps the stream unchanged."""
    from docling_spark.operators.serialize import render_markdown

    raw = [
        ("pdf_cell", "Prvá strana text", "p=1;l=10.0;t=700.0"),
        ("pdf_cell", "Ešte prvá strana", "p=1;l=10.0;t=650.0"),
        # page 2 is blank; content resumes on page 3
        ("pdf_cell", "Tretia strana text", "p=3;l=10.0;t=700.0"),
        ("pdf_cell", "Záver tretej strany", "p=3;l=10.0;t=600.0"),
    ]
    plain = normalize_pdf_spans(raw)
    assert [k for k, *_ in plain] == ["text", "text", "text", "text"]

    out = normalize_pdf_spans(raw, emit_page_breaks=True)
    assert [k for k, *_ in out] == [
        "text", "text", "page_break", "text", "text"
    ]

    md = render_markdown(out, page_break_placeholder="<!-- page break -->")
    assert md == (
        "Prvá strana text\n\n"
        "Ešte prvá strana\n\n"
        "<!-- page break -->\n\n"
        "Tretia strana text\n\n"
        "Záver tretej strany\n"
    )
    # placeholder None (default): breaks dropped, byte-identical to plain
    assert render_markdown(out) == render_markdown(plain)


def test_pdf_page_break_inside_table_deferred():
    """A page transition mid-table defers the break to after the table
    flush (the reference emits the break where the item ends)."""
    raw = [
        ("pdf_cell", "Odpisová skupina 1", "p=1;l=10.0;t=700.0"),
        ("pdf_cell", "1-1", "p=1;l=10.0;t=650.0"),
        ("pdf_cell", "01.1", "p=1;l=60.0;t=650.0"),
        ("pdf_cell", "Prvý riadok", "p=1;l=120.0;t=650.0"),
        ("pdf_cell", "1-2", "p=2;l=10.0;t=700.0"),
        ("pdf_cell", "02.2", "p=2;l=60.0;t=700.0"),
        ("pdf_cell", "Druhý riadok", "p=2;l=120.0;t=700.0"),
        ("pdf_cell", "Poznámky", "p=2;l=10.0;t=600.0"),
        ("pdf_cell", "1. niečo", "p=2;l=10.0;t=550.0"),
    ]
    out = normalize_pdf_spans(raw, emit_page_breaks=True)
    kinds = [k for k, *_ in out]
    # table flushed intact, exactly one break, AFTER the last table cell
    assert kinds.count("page_break") == 1
    bp = kinds.index("page_break")
    assert kinds[bp - 1] == "table_cell"
    assert "table_cell" not in kinds[bp:]
    assert out[bp + 1][1] == "Poznámky"
