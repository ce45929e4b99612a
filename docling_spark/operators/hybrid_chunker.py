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
from typing import Callable, Dict, List, Optional, Sequence, Tuple

from docling_spark.docmap import map_documents
from docling_spark.functions.bpe import PRETOKEN_RE, bpe_count as _bpe_count
from docling_spark.operators.serialize import chunk_document

HYBRID_CHUNK_DDL = (
    "doc_id string, chunk_no int, chunk_id string, content string, "
    "headings array<string>, n_tokens int, n_source_units int"
)

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


def _regex_count(text: str) -> int:
    return len(PRETOKEN_RE.findall(text))


def _active_counter() -> Tuple[Callable[[str], int], bool]:
    """(count, additive) for the configured token counter, in precedence
    order:

    1. the HF tokenizer when configured (DOCLING_TOKENIZER) — production;
       not additive across the delimiter,
    2. the plain pretoken regex when DOCLING_TOKEN_COUNTER=regex — the
       round-≤4 proxy, kept as an escape hatch and for the differential
       test documenting how chunk boundaries shift under a real subword
       tokenizer (BPE splits rare pretokens into several subwords, so BPE
       counts ≥ regex counts and budget boundaries land earlier),
    3. the committed-vocab BPE (functions/bpe.py, real Sennrich merges
       trained once on the synth corpora and committed) — the DEFAULT.

    The regex and BPE counts are additive: pretokens never span whitespace,
    so a whitespace-joined text counts as the sum of its parts."""
    tok = _hf_tokenizer()
    if tok is not None:
        return (lambda text: len(tok.encode(text).ids)), False
    if _os.environ.get("DOCLING_TOKEN_COUNTER") == "regex":
        return _regex_count, True
    return _bpe_count, True


def count_tokens(text: str) -> int:
    """Token count for the chunk budget under the configured counter (see
    `_active_counter`), resolved on every call — the per-string entry.
    `hybrid_chunk_document` resolves the counter once per document instead
    and counts each string once: a split piece or K4 merge stores the sum
    of its parts' counts, recounted only under the (non-additive) HF
    tokenizer."""
    return _active_counter()[0](text)


class _DocCounter:
    """One document's token counter: the active counter resolved once, and
    each heading list's count kept for the document (its chunks repeat
    their headings)."""

    __slots__ = ("count", "additive", "_heading_lens")

    def __init__(self) -> None:
        self.count, self.additive = _active_counter()
        self._heading_lens: Dict[Tuple[str, ...], int] = {}

    def headings(self, headings: Sequence[str]) -> int:
        key = tuple(headings)
        n = self._heading_lens.get(key)
        if n is None:
            n = self._heading_lens[key] = sum(map(self.count, key))
        return n


def _split_words(text: str, budget: int, count: Callable[[str], int]) -> Tuple[List[str], List[int]]:
    """K3 fallback: greedy word packing under `budget` tokens; a single word
    whose token count exceeds the budget is emitted alone (never dropped).
    Returns (pieces, per-piece sums of the word counts)."""
    if budget <= 0:
        budget = 1
    pieces: List[str] = []
    counts: List[int] = []
    cur: List[str] = []
    cur_tokens = 0
    for word in text.split():
        wt = count(word)
        if cur and cur_tokens + wt > budget:
            pieces.append(" ".join(cur))
            counts.append(cur_tokens)
            cur = []
            cur_tokens = 0
        cur.append(word)
        cur_tokens += wt
    if cur:
        pieces.append(" ".join(cur))
        counts.append(cur_tokens)
    return (pieces, counts) if pieces else ([""], [0])


def _split_oversize(
    content: str, headings: Sequence[str], max_tokens: int, counter: _DocCounter
) -> Tuple[List[str], List[int], List[str]]:
    """K2+K3 over one oversize unit. Returns (pieces, piece token counts,
    effective_headings).

    Lines (serialized items) pack greedily under the budget; a single line
    over budget word-splits within `max_tokens - header_len`. Mirrors the
    reference's headings-don't-fit rule: if the headings alone exceed the
    budget they are dropped for this unit's chunks.

    A piece's count is the sum of the line (or word) counts already taken
    to pack it; only a non-additive counter (HF) recounts the joined piece."""
    headings = list(headings)
    header_len = counter.headings(headings)
    if header_len >= max_tokens:
        headings = []          # hybrid_chunker.py:223-233 (warn + drop)
        header_len = 0
    budget = max_tokens - header_len
    count = counter.count

    pieces: List[str] = []
    counts: List[int] = []
    cur: List[str] = []
    cur_tokens = 0

    def flush() -> None:
        nonlocal cur, cur_tokens
        if cur:
            pieces.append(_DELIM.join(cur))
            counts.append(cur_tokens)
            cur = []
            cur_tokens = 0

    for line in content.split("\n"):
        lt = count(line)
        if lt > budget:
            flush()
            words, word_counts = _split_words(line, budget, count)  # K3
            pieces.extend(words)
            counts.extend(word_counts)
            continue
        if cur and cur_tokens + lt > budget:           # K2 window close
            flush()
        cur.append(line)
        cur_tokens += lt
    flush()
    if not pieces:
        pieces, counts = [""], [0]
    if not counter.additive:
        counts = [count(p) for p in pieces]
    return pieces, counts, headings


def hybrid_chunk_document(
    doc_id: str,
    spans: List[Tuple[str, str, Optional[str]]],
    max_tokens: int = 64,
    level: str = "odsek",
) -> List[tuple]:
    """One document's normalized spans → token-budgeted chunks.

    Pipeline per the reference's chunk(): hierarchical units (K1/K5) →
    oversize split (K2/K3) → merge peers with identical headings (K4).
    Deterministic pure function; returns HYBRID_CHUNK_DDL tuples.

    The token counter is resolved once per call (`_DocCounter`), and each
    string is counted once: a unit's content and each heading list once,
    an oversize unit's lines once. Split pieces and K4 merges store the
    sum of their parts' counts; only the HF counter, which is not additive
    across the delimiter, recounts the joined text."""
    counter = _DocCounter()
    count = counter.count
    base = chunk_document(doc_id, spans, level=level)

    # K2/K3: explode oversize units. Each piece carries its CONTENT token
    # count and its headings' count; the K4 merge below ADDS stored counts
    # instead of recounting the growing merged string (which was O(len²) in
    # counter calls — the DuckDB oracle threads the same stored count
    # through its merge fold)
    pre: List[tuple] = []  # (chunk_id, content, headings, n_units, ct, hlen)
    for _doc, chunk_id, _lvl, content, headings, _clen in base:
        headings = list(headings)
        hlen = counter.headings(headings)
        ct = count(content)
        if ct + hlen <= max_tokens:
            pre.append((chunk_id, content, headings, 1, ct, hlen))
        else:
            pieces, counts, eff_headings = _split_oversize(content, headings, max_tokens, counter)
            eff_hlen = hlen if eff_headings else 0
            for i, (piece, pt) in enumerate(zip(pieces, counts)):
                pre.append((f"{chunk_id}/s{i}", piece, list(eff_headings), 1, pt, eff_hlen))

    # K4: merge adjacent chunks with identical headings while under budget.
    recount = not counter.additive
    merged: List[tuple] = []
    for chunk_id, content, headings, n_units, ct, hlen in pre:
        if merged:
            m_id, m_content, m_headings, m_units, m_ct, m_hlen = merged[-1]
            if m_headings == headings:
                m_text = m_content + _DELIM + content
                m_ct_new = count(m_text) if recount else m_ct + ct
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
