"""Hybrid token-aware chunker (SURVEY.md §2.9 K2/K3/K4).

Reference semantics (re-expressed, not ported):
- K2 split-by-doc-items: greedy window packing of a chunk's items under a
  `max_tokens` budget; a single item that alone exceeds the budget becomes
  its own chunk and falls through to the plain-text splitter
  (/root/reference/docling_code/docling-core-main/docling_core/transforms/
  chunker/hybrid_chunker.py:171-214).
- K3 plain-text split: oversize text splits within
  `max_tokens - header_len`; when the headings alone exceed the budget they
  are dropped for that chunk (hybrid_chunker.py:216-243). The reference
  delegates to the `semchunk` + HF-tokenizer pair (not in this container);
  we substitute greedy word-boundary packing against the same BPE-ish
  counter used by ops.textstats — the budget arithmetic is identical.
- K4 merge-peers: adjacent chunks with identical headings merge while the
  combined text stays under budget (hybrid_chunker.py:245-292).

Items here are the per-unit chunks emitted by the hierarchical/law chunker
(serialize.chunk_document), whose multi-line content plays the role of the
reference's doc_items (one line = one serialized item). All stages are
per-document-local → the Spark form is the same zero-shuffle mapInArrow
stage (`docmap.map_documents`) as every other span stage.
"""

from __future__ import annotations

import os as _os
import re
from typing import List, Optional, Sequence, Tuple

from docling_spark.docmap import map_documents
from docling_spark.functions.bpe import bpe_count as _bpe_count
from docling_spark.operators.serialize import chunk_document

HYBRID_CHUNK_DDL = (
    "doc_id string, chunk_no int, chunk_id string, content string, "
    "headings array<string>, n_tokens int, n_source_units int"
)

_TOKEN_RE = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")

# delimiter between merged/packed pieces — the reference's self.delim is "\n"
_DELIM = "\n"

# Real-tokenizer hook (reference hybrid_chunker.py:171-214 counts with an HF
# tokenizer). Neither `tokenizers` nor `transformers` ships in this
# container, so the regex proxy is the default; when a wheel is available,
# set DOCLING_TOKENIZER=<name-or-path> and the budget arithmetic below uses
# the real counter unchanged. Lazy per-process singleton (one load per
# executor python worker, same pattern as the reference's cached tokenizer).
_HF_TOKENIZER = None
_HF_TRIED = False


def _hf_tokenizer():
    global _HF_TOKENIZER, _HF_TRIED
    if _HF_TRIED:
        return _HF_TOKENIZER
    _HF_TRIED = True
    import os

    name = os.environ.get("DOCLING_TOKENIZER")
    if name:
        try:
            from tokenizers import Tokenizer  # optional dependency

            _HF_TOKENIZER = (
                Tokenizer.from_file(name)
                if os.path.exists(name)
                else Tokenizer.from_pretrained(name)
            )
        except Exception:  # wheel absent / model unavailable → regex proxy
            _HF_TOKENIZER = None
    return _HF_TOKENIZER


def count_tokens(text: str) -> int:
    """Token count for the chunk budget, in precedence order:

    1. the HF tokenizer when configured (DOCLING_TOKENIZER) — production,
    2. the committed-vocab BPE (functions/bpe.py, real Sennrich merges
       trained once on the synth corpora and committed) — the DEFAULT,
    3. the plain pretoken regex when DOCLING_TOKEN_COUNTER=regex — the
       round-≤4 proxy, kept as an escape hatch and for the differential
       test documenting how chunk boundaries shift under a real subword
       tokenizer (BPE splits rare pretokens into several subwords, so BPE
       counts ≥ regex counts and budget boundaries land earlier)."""
    tok = _hf_tokenizer()
    if tok is not None:
        return len(tok.encode(text).ids)
    if _os.environ.get("DOCLING_TOKEN_COUNTER") == "regex":
        return len(_TOKEN_RE.findall(text))
    return _bpe_count(text)


def _chunk_tokens(content: str, headings: Sequence[str]) -> int:
    """Chunk budget = serialized text + heading context (the reference counts
    the contextualized text: headings prefix + body)."""
    return count_tokens(content) + sum(count_tokens(h) for h in headings)


def _split_words(text: str, budget: int) -> List[str]:
    """K3 fallback: greedy word packing under `budget` tokens; a single word
    whose token count exceeds the budget is emitted alone (never dropped)."""
    if budget <= 0:
        budget = 1
    pieces: List[str] = []
    cur: List[str] = []
    cur_tokens = 0
    for word in text.split():
        wt = count_tokens(word)
        if cur and cur_tokens + wt > budget:
            pieces.append(" ".join(cur))
            cur = []
            cur_tokens = 0
        cur.append(word)
        cur_tokens += wt
    if cur:
        pieces.append(" ".join(cur))
    return pieces or [""]


def _split_oversize(content: str, headings: Sequence[str], max_tokens: int) -> Tuple[List[str], List[str]]:
    """K2+K3 over one oversize unit. Returns (pieces, effective_headings).

    Lines (serialized items) pack greedily under the budget; a single line
    over budget word-splits within `max_tokens - header_len`. Mirrors the
    reference's headings-don't-fit rule: if the headings alone exceed the
    budget they are dropped for this unit's chunks."""
    headings = list(headings)
    header_len = sum(count_tokens(h) for h in headings)
    if header_len >= max_tokens:
        headings = []          # hybrid_chunker.py:223-233 (warn + drop)
        header_len = 0
    budget = max_tokens - header_len

    pieces: List[str] = []
    cur: List[str] = []
    cur_tokens = 0

    def flush() -> None:
        nonlocal cur, cur_tokens
        if cur:
            pieces.append(_DELIM.join(cur))
            cur = []
            cur_tokens = 0

    for line in content.split("\n"):
        lt = count_tokens(line)
        if lt > budget:
            flush()
            pieces.extend(_split_words(line, budget))  # K3
            continue
        if cur and cur_tokens + lt > budget:           # K2 window close
            flush()
        cur.append(line)
        cur_tokens += lt
    flush()
    return (pieces or [""]), headings


def hybrid_chunk_document(
    doc_id: str,
    spans: List[Tuple[str, str, Optional[str]]],
    max_tokens: int = 64,
    level: str = "odsek",
) -> List[tuple]:
    """One document's normalized spans → token-budgeted chunks.

    Pipeline per the reference's chunk(): hierarchical units (K1/K5) →
    oversize split (K2/K3) → merge peers with identical headings (K4).
    Deterministic pure function; returns HYBRID_CHUNK_DDL tuples."""
    base = chunk_document(doc_id, spans, level=level)

    # K2/K3: explode oversize units. Each piece carries its CONTENT token
    # count and its headings' count — the BPE and regex counts are additive
    # across the \n delimiter (pretokens never span whitespace), so the K4
    # merge below ADDS stored counts instead of recounting the growing
    # merged string (which was O(len²) in counter calls — the DuckDB oracle
    # threads the same stored count through its merge fold)
    pre: List[tuple] = []  # (chunk_id, content, headings, n_units, ct, hlen)
    for _doc, chunk_id, _lvl, content, headings, _clen in base:
        headings = list(headings)
        hlen = sum(count_tokens(h) for h in headings)
        ct = count_tokens(content)
        if ct + hlen <= max_tokens:
            pre.append((chunk_id, content, headings, 1, ct, hlen))
        else:
            pieces, eff_headings = _split_oversize(content, headings, max_tokens)
            eff_hlen = sum(count_tokens(h) for h in eff_headings)
            for i, piece in enumerate(pieces):
                pre.append((f"{chunk_id}/s{i}", piece, list(eff_headings), 1,
                            count_tokens(piece), eff_hlen))

    # K4: merge adjacent chunks with identical headings while under budget.
    # An HF tokenizer's counts are not additive across the delimiter, so on
    # that path the merged text is recounted.
    recount = _hf_tokenizer() is not None
    merged: List[tuple] = []
    for chunk_id, content, headings, n_units, ct, hlen in pre:
        if merged:
            m_id, m_content, m_headings, m_units, m_ct, m_hlen = merged[-1]
            if m_headings == headings:
                m_text = m_content + _DELIM + content
                m_ct_new = count_tokens(m_text) if recount else m_ct + ct
                if m_ct_new + hlen <= max_tokens:
                    merged[-1] = (m_id, m_text, m_headings, m_units + n_units, m_ct_new, m_hlen)
                    continue
        merged.append((chunk_id, content, headings, n_units, ct, hlen))

    return [
        (doc_id, i, chunk_id, content, headings, ct + hlen, n_units)
        for i, (chunk_id, content, headings, n_units, ct, hlen)
        in enumerate(merged)
    ]


def hybrid_chunk_sink(df, max_tokens: int = 64, level: str = "odsek"):
    """normalized documents → hybrid chunk table, one row per chunk.
    Same zero-shuffle mapInArrow shape as the extraction stages."""

    def rows(doc_id, spans):
        return hybrid_chunk_document(doc_id, spans, max_tokens=max_tokens, level=level)

    return map_documents(df, rows, HYBRID_CHUNK_DDL)
