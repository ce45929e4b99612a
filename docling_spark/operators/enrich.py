"""J4 — paragraph enrichment: re-extract embedded pismenos from flowed intro
text (SURVEY.md §2.3 J4, §2.8 C11).

The reference re-parses the source HTML for paragraphs that have NO odsek
children and a long (>200 char) intro whose body embeds `a) … b) …` runs,
joining the re-extraction back on paragraph id and creating a synthetic
odsek ".1" (/root/reference/sequential_parser.py:4664-4726; the embedded-run
splitter mirrors chunk_to_markdown.py:89-183).

Here both sides live in the span table already, so the "join" is a per-doc
rewrite pass over normalized spans. OPT-IN (not part of default extract()):
the reference also gates it behind source-HTML availability, and goldens pin
the unenriched output.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from docling_spark.docmap import map_documents
from docling_spark.schema import DOC_DDL

Span = Tuple[str, str, Optional[str]]

# split "...intro. a) first. b) second." at pismeno-letter boundaries —
# requires ") " + lowercase-letter run preceded by whitespace
_EMBEDDED_SPLIT_RE = re.compile(r"(?:^|\s)([a-z]{1,2})\)\s+")
_MIN_INTRO_CHARS = 200


def split_embedded_pismenos(text: str) -> Optional[Tuple[str, List[Tuple[str, str]]]]:
    """'intro a) one b) two' → ('intro', [('a','one'), ('b','two')]) when ≥2
    embedded markers exist in alphabetical sequence; None otherwise."""
    hits = list(_EMBEDDED_SPLIT_RE.finditer(text))
    if len(hits) < 2:
        return None
    letters = [h.group(1) for h in hits]
    # must start at 'a' and be consecutive (the reference only re-extracts
    # well-formed runs)
    expected = [chr(ord("a") + i) for i in range(len(letters))]
    if letters != expected:
        return None
    intro = text[: hits[0].start()].strip()
    items: List[Tuple[str, str]] = []
    for i, h in enumerate(hits):
        end = hits[i + 1].start() if i + 1 < len(hits) else len(text)
        items.append((h.group(1), text[h.end(): end].strip()))
    return intro, items


def enrich_document(spans: List[Span]) -> List[Span]:
    """Rewrite one doc: paragraph text spans with no odsek sibling and an
    embedded pismeno run become synthetic odsek 1 + pismeno spans."""
    para_has_odsek = set()
    cur_para = None
    for kind, text, ref in spans:
        if kind == "paragraph":
            cur_para = ref
        elif kind == "odsek" and cur_para:
            para_has_odsek.add(cur_para)

    out: List[Span] = []
    cur_para = None
    for kind, text, ref in spans:
        if kind == "paragraph":
            cur_para = ref
        if (
            kind == "text"
            and cur_para
            and ref == cur_para
            and cur_para not in para_has_odsek
            and len(text) > _MIN_INTRO_CHARS
        ):
            split = split_embedded_pismenos(text)
            if split:
                intro, items = split
                base = cur_para.lstrip("#")
                oref = f"#{base}.odsek-1"
                out.append(("odsek", "(1)", oref))
                if intro:
                    out.append(("text", intro, oref))
                for letter, body in items:
                    pref = f"#{base}.odsek-1.pismeno-{letter}"
                    out.append(("pismeno", f"{letter})", pref))
                    if body:
                        out.append(("text", body, pref))
                continue
        out.append((kind, text, ref))
    return out


def _enrich_rows(doc_id, spans):
    return [(doc_id, enrich_document(spans))]


def enrich(df):
    """Spark wrapper: normalized docs → enriched docs (same shape, one
    narrow mapInArrow stage)."""
    return map_documents(df, _enrich_rows, DOC_DDL)
