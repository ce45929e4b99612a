"""Stage 3 — PDF-like span normalization (SURVEY.md §2.1 S1, §2.3 J6, §2.4
A6–A8, §2.5 W6).

Reproduces the reference's fragmented-PDF handling, originally in
/root/reference/annex_processor.py:
- /cNNN decode (1053-1073)            → textnorm.decode_character_codes
- y-band grouping round(t/8)*8 + x-sort = reading order (1127-1165)
- table reconstruction from "N-M KP Name" rows under "Odpisová skupina N"
  headers (1031-1209), incl. merged-row split (853-895) and loose-text
  backfill + re-sort by item number (897-972).

Pure per-document function: list of raw spans in → list of normalized spans
out. Called once per document from the pipeline's mapInArrow stage.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

from docling_spark.functions.table_content import build_exclusion_set, is_table_content
from docling_spark.functions.textnorm import decode_character_codes, parse_geometry

Span = Tuple[str, str, Optional[str]]  # (kind, text, media_ref)

_GROUP_HEADER_RE = re.compile(r"Odpisová\s+skupina\s+(\d+)", re.IGNORECASE)
_KP_RE = re.compile(r"^\d+\.[\d.]*$")
_MERGED_ITEM_RE = re.compile(r"^(\d+-\d+)\s+(\d+-\d+)\s*(.*)$")
_ANNEX_TITLE_RE = re.compile(r"^Príloha\s+č\.", re.IGNORECASE)


def _reading_order(cells: List[Tuple[str, str, Optional[str]]]) -> List[Tuple[str, str, Optional[str], int, float, float]]:
    """Sort spans into reading order: page, then y-band (round(t/8)*8 with
    top-left origin ⇒ descending t), then x. Spans without geometry keep
    their relative ingest order at the end of their page."""
    keyed = []
    for i, (kind, text, ref) in enumerate(cells):
        geom = parse_geometry(ref)
        if geom is None:
            keyed.append(((1 << 30), 0.0, 0.0, i, kind, text, ref))
        else:
            page, left, top = geom
            band = round(top / 8) * 8
            keyed.append((page, -band, left, i, kind, text, ref))
    keyed.sort(key=lambda k: (k[0], k[1], k[2], k[3]))
    out = []
    for page, negband, left, i, kind, text, ref in keyed:
        out.append((kind, text, ref, page, -negband, left))
    return out


def _split_merged_row(item_a: str, item_b: str, kp: str, desc: str) -> List[Tuple[str, str, str]]:
    """'4-15 4-16 <desc>' single physical row → two logical rows; the
    description splits at the lower→UPPER case boundary when present
    (annex_processor.py:853-895 semantics)."""
    m = re.search(r"([a-záéíóúýčďľňŕšťž])([A-ZÁÉÍÓÚÝČĎĽŇŔŠŤŽ])", desc)
    if m:
        d1, d2 = desc[: m.start() + 1], desc[m.start() + 1 :]
    else:
        d1 = d2 = desc
    return [(item_a, kp, d1.strip()), (item_b, kp, d2.strip())]


_NO_PAGE = 1 << 30  # sentinel page for geometry-less spans (_reading_order)


def normalize_pdf_spans(raw: List[Tuple[str, str, Optional[str]]],
                        emit_page_breaks: bool = False) -> List[Span]:
    """Normalize one PDF-like document: decode → reading order → section
    headers + reconstructed tables (as table_cell spans) + notes.

    `emit_page_breaks=True` inserts a ('page_break', '', None) span between
    consecutive content-bearing rows whose pages differ — the span-stream
    form of docling-core's page-break nodes (common.py:86-131: one node per
    consecutive-items pair with differing page provenance, so an empty page
    yields ONE break, not two); `markdown_sink(page_break_placeholder=...)`
    renders them like MarkdownParams.page_break_placeholder
    (markdown.py:89,795-810). A break falling inside a reconstructed
    table is deferred to just after the table flush (the reference emits it
    where the item ends). Default False keeps the span stream unchanged."""
    decoded = [
        (kind, decode_character_codes(text) or "", ref) for kind, text, ref in raw
    ]
    ordered = _reading_order(decoded)

    out: List[Span] = []
    # rows grouped by (page, band): cells already x-sorted by _reading_order
    rows: List[Tuple[int, List[Tuple[str, str, Optional[str]]]]] = []
    cur_key: Optional[Tuple[int, float]] = None
    for kind, text, ref, page, band, left in ordered:
        key = (page, band)
        if key != cur_key:
            rows.append((page, []))
            cur_key = key
        rows[-1][1].append((kind, text, ref))

    # walk rows: detect title / group headers / items / notes
    current_group: Optional[str] = None
    table_idx = -1
    # pending table for the currently open group: flushed into the output at
    # its stream position when the group closes (next header / notes / EOF)
    pending: Optional[Tuple[str, Dict[str, Tuple[str, str]]]] = None
    notes_mode = False
    trailing: List[Span] = []
    prev_page: Optional[int] = None  # page of the last content-bearing row
    deferred_breaks = 0              # page breaks landing inside a pending table

    def flush_table() -> None:
        """Emit the pending group's reconstructed table: header row + item
        rows sorted by int item suffix (annex_processor.py:966)."""
        nonlocal pending, deferred_breaks
        if pending is None:
            return
        header_text, items = pending
        out.append(("section_header", header_text, None))
        for c, col in enumerate(("Položka", "KP", "Názov")):
            out.append(("table_cell", col, f"#/tables/{table_idx}/r0c{c}"))
        sorted_items = sorted(items.items(), key=lambda kv: int(kv[0].split("-")[1]))
        for r, (item, (kp, desc)) in enumerate(sorted_items, start=1):
            out.append(("table_cell", item, f"#/tables/{table_idx}/r{r}c0"))
            out.append(("table_cell", kp, f"#/tables/{table_idx}/r{r}c1"))
            out.append(("table_cell", desc, f"#/tables/{table_idx}/r{r}c2"))
        pending = None
        if deferred_breaks:
            out.extend([("page_break", "", None)] * deferred_breaks)
            deferred_breaks = 0

    for row_page, cells in rows:
        texts = [c[1] for c in cells]
        kinds = [c[0] for c in cells]
        joined = " ".join(t for t in texts if t).strip()
        if not joined and not any(k == "media" for k in kinds):
            continue
        if any(k == "media" for k in kinds):
            for k, t, r in cells:
                if k == "media":
                    trailing.append(("media", t, r))
            texts = [t for k, t in zip(kinds, texts) if k != "media"]
            joined = " ".join(t for t in texts if t).strip()
            if not joined:
                continue

        if emit_page_breaks and row_page != _NO_PAGE:
            if prev_page is not None and row_page != prev_page:
                if pending is None:
                    out.append(("page_break", "", None))
                else:
                    deferred_breaks += 1
            prev_page = row_page

        if _ANNEX_TITLE_RE.match(joined):
            flush_table()
            out.append(("annex", joined, None))
            continue
        gm = _GROUP_HEADER_RE.search(joined)
        if gm:
            flush_table()
            current_group = gm.group(1)
            table_idx += 1
            pending = (joined, {})
            notes_mode = False
            continue
        if joined.strip().lower() == "poznámky":
            flush_table()
            current_group = None
            notes_mode = True
            out.append(("section_header", joined, None))
            continue
        if notes_mode:
            out.append(("list_item", joined, None))
            continue
        if current_group is not None:
            # row-major cells: first cell should be the item number
            first = texts[0].strip() if texts else ""
            mm = _MERGED_ITEM_RE.match(joined)
            if mm and mm.group(1).startswith(f"{current_group}-"):
                kp = ""
                rest_cells = texts[1:] if first == mm.group(1) else []
                for t in rest_cells:
                    if _KP_RE.match(t.strip()):
                        kp = t.strip()
                        break
                for item, k2, d2 in _split_merged_row(
                    mm.group(1), mm.group(2), kp, mm.group(3)
                ):
                    pending[1][item] = (k2, d2)
                continue
            if re.match(rf"^{current_group}-\d+$", first):
                kp = ""
                desc_parts: List[str] = []
                for t in texts[1:]:
                    ts = t.strip()
                    if _KP_RE.match(ts) and not kp:
                        kp = ts
                    elif ts:
                        desc_parts.append(ts)
                pending[1][first] = (kp, " ".join(desc_parts))
                continue
            # loose-text backfill row: "N-M KP Name ..." in one fragment
            bf = re.match(rf"^({current_group}-\d+)\s+(\d+[\d.]*)\s+(.+)$", joined)
            if bf:
                item = bf.group(1)
                if item not in pending[1]:
                    pending[1][item] = (bf.group(2), bf.group(3))
                continue
        out.append(("text", joined, None))

    flush_table()
    out.extend(trailing)

    # F15: drop flowed text that duplicates extracted table content (exact
    # normalized match, meaningful-word match, or table-row/code shape) —
    # annex_processor.py:605-684 semantics as a per-doc post-pass
    cell_texts = [t for k, t, _r in out if k == "table_cell"]
    if cell_texts:
        exclusion = build_exclusion_set(cell_texts)
        out = [
            (k, t, r)
            for k, t, r in out
            if k != "text" or not is_table_content(t, exclusion)
        ]
    return out
