"""End-to-end extraction pipeline (SURVEY.md §3, §7).

Spark plan
----------
Every stage (sniff → HTML/PDF normalize → hierarchy state machine) is
document-local, so the whole pipeline compiles to **one narrow mapInArrow
stage over the scan: zero shuffles**. `docling_spark.docmap.map_documents`
runs that stage, and every later span stage (enrich, the sinks, the
chunkers) runs on the same helper, so spans cross the Arrow boundary one
way only. At 100 TB that means:

- parallelism = input splits (`spark.sql.files.maxPartitionBytes`), no
  exchange, no skewed reducer;
- column pruning at the parquet/Iceberg scan (we only read doc_id + spans);
- skew inside a split (one mega-doc) is bounded by the Arrow batch size
  (`spark.sql.execution.arrow.maxRecordsPerBatch`) — a giant document ships
  alone in its batch instead of stalling a reducer, and `rebalance()` offers
  an explicit weight-aware repartition when input files are pathological.

The per-document logic is pure Python over one doc's spans (the reference's
own design: single-pass O(n), sequential_parser.py:5-15); the vectorization
axis is documents-per-Arrow-batch, with columnar marshaling and no per-row
Python UDFs in the plan.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from docling_spark.docmap import map_documents
from docling_spark.operators import sniff
from docling_spark.operators.hierarchy import reconstruct
from docling_spark.operators.html_extract import extract_html_spans
from docling_spark.operators.pdf_extract import normalize_pdf_spans
from docling_spark.schema import DOC_DDL

Span = Tuple[str, str, Optional[str]]


def _as_tuples(raw_spans) -> List[Span]:
    """Arrow hands array<struct> to pandas as a sequence of dicts (or None)."""
    out: List[Span] = []
    if raw_spans is None:
        return out
    for s in raw_spans:
        if s is None:
            continue
        if isinstance(s, dict):
            out.append((s.get("kind") or "", s.get("text") or "", s.get("media_ref")))
        else:  # tuple/Row-like: (kind, text, media_ref[, offset])
            out.append((s[0] or "", s[1] or "", s[2]))
    return out


def extract_document(raw_spans, emit_page_breaks: bool = False) -> List[Span]:
    """Sniff one document and run the matching normalization path.

    `emit_page_breaks=True` threads the PDF path's page boundaries into the
    span stream as 'page_break' spans (see normalize_pdf_spans), which
    `markdown_sink(page_break_placeholder=...)` renders like docling-core's
    MarkdownParams.page_break_placeholder. Default False keeps the
    span-sequence contract unchanged (HTML/stream sources carry no page
    provenance, matching the reference where only paginated sources emit
    page-break nodes)."""
    spans = _as_tuples(raw_spans)
    fmt = sniff.sniff_doc(spans)
    if fmt == sniff.HTML:
        flat: List[Span] = []
        for kind, text, ref in spans:
            if kind == "html_bytes":
                flat.extend(extract_html_spans(text))
            else:
                flat.append((kind, text, ref))
        return reconstruct(flat)
    if fmt == sniff.PDF_LIKE:
        return normalize_pdf_spans(spans, emit_page_breaks=emit_page_breaks)
    # docling stream (or unknown → treated as pre-parsed stream)
    return reconstruct(spans)


def extract_document_safe(raw_spans) -> List[Span]:
    """Per-document fault isolation: at 10^12 docs one malformed document
    must not fail its whole task/partition — it emits a single `error` span
    (kind in the closed set, surfaced by the kind-histogram metrics and
    trivially filterable downstream) and the batch continues. The bucket
    lineage keeps the doc re-processable after a fix."""
    try:
        return extract_document(raw_spans)
    except Exception as exc:  # noqa: BLE001 — the isolation boundary
        return [("error", f"{type(exc).__name__}: {exc}"[:500], None)]


def extract_html_formatted(df):
    """HTML documents → the flat formatted span stream:
    (doc_id, spans, fmt) where `spans` keeps the BASELINE 4-field shape and
    `fmt: array<string>` carries index-aligned inline-formatting flags
    (⊆ "BIUS"; hyperlinks ride media_ref as usual). Feeds the
    formatting-aware sinks — `markdown_sink`/`html_sink` detect the `fmt`
    column and render those spans under docling-core's serializer rules
    (bold/italic/strikethrough/hyperlink + escaping).

    Flat stream by design: the hierarchy state machine merges spans, which
    collapses per-item formatting (docling has the same per-TextItem
    granularity — document.py:1617-1639). Same narrow zero-shuffle
    mapInArrow shape as `extract`. Non-HTML span kinds pass through with
    empty flags."""
    return map_documents(df, _formatted_rows, DOC_DDL + ", fmt array<string>")


def _formatted_rows(doc_id, spans):
    flat: List[tuple] = []
    for kind, text, ref in _as_tuples(spans):
        if kind == "html_bytes":
            flat.extend(extract_html_spans(text, with_formatting=True))
        else:
            flat.append((kind, text, ref, ""))
    return [(doc_id, flat, [f for (_k, _t, _r, f) in flat])]


def _extract_rows(doc_id, spans):
    return [(doc_id, extract_document_safe(spans))]


def extract(df, extra_cols: str = ""):
    """documents(doc_id, spans[, extra]) → normalized documents, same shape.

    One narrow mapInArrow stage (`docmap.map_documents`); the columns
    declared by `extra_cols` (e.g. ", bucket int") are passed through
    untouched, bound by their declared names, so the checkpointed runner
    keeps its lineage column without a join."""
    return map_documents(df, _extract_rows, DOC_DDL + extra_cols)


def extract_full(df):
    """The full flagship path: extract (sniff → HTML/PDF normalize →
    hierarchy state machine) followed by J4 paragraph enrichment
    (operators.enrich — re-extracts embedded pismeno runs into synthetic
    odseks). Still one narrow zero-shuffle chain: mapInArrow → mapInArrow.
    Annex integration (J5) composes on top via
    sources.readers.integrate_annexes(extract_full(df), manifest) — it
    returns an audit table, not the span shape, so it stays a separate
    stage."""
    from docling_spark.operators.enrich import enrich

    return enrich(extract(df))


def rebalance(df, num_partitions: int):
    """Optional explicit skew mitigation: hash-repartition documents so
    pathological input files (one giant doc per split) spread across the
    cluster. Costs one shuffle — only worth it when input layout is bad,
    which is why it is not part of the default zero-shuffle plan."""
    from pyspark.sql import functions as F

    return df.repartition(num_partitions, F.xxhash64("doc_id"))
