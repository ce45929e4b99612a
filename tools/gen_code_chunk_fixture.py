#!/usr/bin/env python
"""Build the committed expected-output fixture for the code_chunks query
(fixtures/code_chunks.parquet) — the DuckDB side of its oracle.

Single-process and Spark-free: rows come straight from
`chunk_code_document` over the deterministic `synth_code_rows(16, 7)`
corpus — certifying the distributed Arrow-map plumbing the same way the
multimodal fixtures do (tools/gen_multimodal_fixtures.py). The chunker's
SEMANTICS are pinned independently by tests/test_code_chunker.py's
hand-asserted expectations. Rerun after any semantic change:

    python tools/gen_code_chunk_fixture.py
"""
from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from docling_spark.operators.code_chunker import (  # noqa: E402
    chunk_code_document, synth_code_rows)

FIXDIR = os.path.join(os.path.dirname(__file__), "..", "fixtures")


def main() -> None:
    rows = []
    for doc_id, lang, code in synth_code_rows(16, 7):
        rows.extend(chunk_code_document(doc_id, lang, code))
    cols = ["doc_id", "chunk_id", "part_name", "chunk_type", "start_line",
            "end_line", "signature_end_line", "docstring", "content",
            "n_tokens"]
    table = pa.table(
        {c: [r[i] for r in rows] for i, c in enumerate(cols)},
        schema=pa.schema([
            ("doc_id", pa.string()), ("chunk_id", pa.int32()),
            ("part_name", pa.string()), ("chunk_type", pa.string()),
            ("start_line", pa.int32()), ("end_line", pa.int32()),
            ("signature_end_line", pa.int32()), ("docstring", pa.string()),
            ("content", pa.string()), ("n_tokens", pa.int32()),
        ]),
    )
    out = os.path.join(FIXDIR, "code_chunks.parquet")
    pq.write_table(table, out)
    print(f"wrote {out}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
