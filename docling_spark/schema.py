"""Canonical schemas for the extraction engine.

The document shape is authoritative from BASELINE.json `input_hint`:
``documents (doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>)``.

Reference data model this flattens (cited for parity, not ported):
- DoclingDocument flat typed arrays — /root/reference/docling_code/
  docling-core-main/docling_core/types/doc/document.py:2533-2564
- TextItem(label, text, hyperlink, prov) — document.py:1617-1639
- DocItemLabel closed label set — types/doc/labels.py:7-36
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Span / document schema (input AND normalized output — same shape)
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# DDL forms (for mapInArrow signatures)
SPAN_DDL = "kind string, text string, media_ref string, offset int"
DOC_DDL = f"doc_id string, spans array<struct<{SPAN_DDL}>>"

# Raw ingest kinds (FIXTURES.md §1)
RAW_KINDS = {
    "html_bytes",
    "pdf_cell",
    "text",
    "section_header",
    "list_item",
    "table_cell",
    "media",
    "caption",
    "title",
    "page_footer",
    "page_header",
}

# Normalized output kinds — closed set derived from the reference's
# DocItemLabel (labels.py:7-36) plus the law-structure levels
# (sequential_parser.py:2212-2234).
NORMALIZED_KINDS = {
    "title",
    "part",            # ČASŤ level
    "paragraph",       # § level marker
    "paragraph_title",
    "odsek",           # (n) level marker
    "pismeno",         # a) level marker
    "subitem",         # 1. level marker
    "text",            # unit body text (joined)
    "section_header",
    "table_cell",
    "media",
    "footnote",        # footnote definition marker
    "annex",           # annex header
    "list_item",
    "caption",         # figure/table caption (F16: skipped in unit text,
                       #   kept as standalone span — common.py:391-394)
    "error",           # per-doc fault isolation: extraction raised; the doc
                       #   emits one error span instead of failing the task
}

# Additional kinds emitted only by the docling-JSON reader's graph-item
# deref (document.py:2560-2562): key/value and form field/value pairs.
# Not part of the extraction state machine's closed output set above —
# these reach the sinks directly from read_docling_json.
KV_KINDS = {"kv", "kv_value", "form_field", "form_value"}

# ---------------------------------------------------------------------------
# Metrics / lineage table (north_rule: per-partition checkpointed lineage)
# FIXTURES.md §4
# ---------------------------------------------------------------------------

# One row per bucket per completed group (checkpoint.run_extract). `docs`,
# `spans_in`, `spans_out` and `error_docs` (documents holding an `error`
# span) are the bucket's own counts; `wall_ms` is the wall time of the
# bucket's whole group, written on each of the group's rows.
METRICS_DDL = (
    "run_id string, stage string, bucket int, docs long, spans_in long, "
    "spans_out long, error_docs long, status string, wall_ms long"
)

# ---------------------------------------------------------------------------
# Chunk table (RAG layer — FIXTURES.md §3c; chunk_to_markdown.py:373-475)
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("level", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("headings", T.ArrayType(T.StringType()), True),
        T.StructField("content_length", T.IntegerType(), True),
    ]
)

CHUNK_DDL = (
    "doc_id string, chunk_id string, level string, content string, "
    "headings array<string>, content_length int"
)
