"""docling_spark — a PySpark-native document-understanding / main-content
extraction engine, built from scratch with the query and data-processing
capabilities of the reference extraction pipeline (rpalenik/docling).

Design (see SURVEY.md):
- One row per document: ``(doc_id: string, spans: array<struct<kind, text,
  media_ref, offset>>)`` — the authoritative shape from BASELINE.json.
- Every extraction stage is document-local, so the whole pipeline is a single
  narrow ``mapInArrow`` stage over the scan: **zero shuffles** end-to-end.
  ``docmap.map_documents`` runs it and every later span stage (enrichment,
  sinks, chunkers). Documents are the vectorization axis; Arrow batches carry
  many docs at once.
- Cross-document work (dedup, similarity, metrics rollups) uses native
  DataFrame ops so Catalyst/AQE handle pushdown, pruning, and skew.
"""

from docling_spark import _zipimport

_zipimport.install()  # every Python worker that loads engine code gets it

__version__ = "0.1.0"
