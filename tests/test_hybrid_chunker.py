"""Hybrid token-aware chunker tests (K2 pack / K3 split / K4 merge)."""

import random

import pytest

from docling_spark.operators.hybrid_chunker import (
    _DocCounter,
    _split_oversize,
    count_tokens,
    hybrid_chunk_document,
)

_SPANS = [
    ("title", "Zákon č. 1/2020 Z. z.", None),
    ("part", "PRVÁ ČASŤ", "#cast-1"),
    ("paragraph", "§ 1", "#paragraf-1"),
    ("odsek", "(1)", "#paragraf-1.odsek-1"),
    ("text", "krátky text", "#paragraf-1.odsek-1"),
    ("odsek", "(2)", "#paragraf-1.odsek-2"),
    ("text", "iný krátky text", "#paragraf-1.odsek-2"),
    ("paragraph", "§ 2", "#paragraf-2"),
    ("odsek", "(1)", "#paragraf-2.odsek-1"),
    ("text", " ".join(f"slovo{i}" for i in range(200)), "#paragraf-2.odsek-1"),
]


def test_budget_respected_and_text_preserved():
    max_tokens = 32
    chunks = hybrid_chunk_document("d1", _SPANS, max_tokens=max_tokens)
    assert chunks, "no chunks emitted"
    for c in chunks:
        _doc, _no, _cid, content, headings, n_tokens, _nu = c
        # n_tokens is the contextualized count and must respect the budget
        # (single-word-over-budget is the only sanctioned overflow; none here)
        assert n_tokens <= max_tokens, (content, headings, n_tokens)
    # every source word survives, in order
    joined = "\n".join(c[3] for c in chunks)
    for i in range(200):
        assert f"slovo{i}" in joined
    assert joined.index("slovo0") < joined.index("slovo199")


def test_k4_merges_small_same_heading_peers():
    # the two small odseks of § 1 share identical headings → one merged chunk
    chunks = hybrid_chunk_document("d1", _SPANS, max_tokens=64)
    texts = [c[3] for c in chunks]
    merged = [t for t in texts if "krátky text" in t and "iný krátky text" in t]
    assert merged, f"small same-heading peers not merged: {texts}"
    # merged chunk counts both source units
    m = next(c for c in chunks if "iný krátky text" in c[3])
    assert m[6] >= 2


def test_k4_does_not_merge_across_headings():
    chunks = hybrid_chunk_document("d1", _SPANS, max_tokens=10_000)
    # even with an infinite budget, § 1 and § 2 content must stay separate
    for c in chunks:
        content = c[3]
        assert not ("krátky text" in content and "slovo0" in content)


def test_k2_oversize_unit_splits():
    chunks = hybrid_chunk_document("d1", _SPANS, max_tokens=32)
    split_ids = [c[2] for c in chunks if "/s" in c[2]]
    assert len(split_ids) >= 2, "200-word odsek should split into several chunks"
    # chunk_no is a dense per-doc sequence
    assert [c[1] for c in chunks] == list(range(len(chunks)))


def test_k3_headings_longer_than_budget_dropped():
    big_headings = [" ".join(f"h{i}" for i in range(50))]
    pieces, _counts, eff = _split_oversize("a b c", big_headings, 16, _DocCounter())
    assert eff == []            # reference: warn + drop headings
    assert pieces == ["a b c"]


def test_k3_single_giant_word_emitted_alone():
    pieces, _, _ = _split_oversize("x " + "y" * 5 + " " + "z,z.z;z:z!z?" * 40, ["h"], 8,
                                   _DocCounter())
    assert pieces  # no crash, nothing dropped
    total = " ".join(pieces)
    assert "yyyyy" in total


class _Encoding:
    def __init__(self, n):
        self.ids = [0] * n


class _NewlineHeavy:
    """HF tokenizer stub: each word is 1 token and each "\n" is 3."""

    def encode(self, text):
        return _Encoding(len(text.split()) + 3 * text.count("\n"))


def test_k4_merge_recounts_under_hf_tokenizer(monkeypatch):
    # an HF tokenizer need not be additive across the merge delimiter: this
    # stub counts each word as 1 token and each "\n" as 3, so summing the
    # parts' stored counts under-counts every merged chunk by 3 per join
    import docling_spark.operators.hybrid_chunker as hc

    tok = _NewlineHeavy()
    monkeypatch.setattr(hc, "_hf_tokenizer", lambda: tok)
    chunks = hybrid_chunk_document("d1", _SPANS, max_tokens=64)
    assert any(c[6] >= 2 for c in chunks), "expected a K4 merge"
    for _doc, _no, _cid, content, headings, n_tokens, _nu in chunks:
        expected = len(tok.encode(content).ids) + sum(
            len(tok.encode(h).ids) for h in headings)
        assert n_tokens == expected, (content, n_tokens, expected)
        assert n_tokens <= 64


def test_deterministic():
    a = hybrid_chunk_document("d1", _SPANS, max_tokens=32)
    b = hybrid_chunk_document("d1", _SPANS, max_tokens=32)
    assert a == b


def test_spark_sink_roundtrip(spark, corpus_path):
    from docling_spark.operators.hybrid_chunker import hybrid_chunk_sink
    from docling_spark.pipeline import extract

    docs = extract(spark.read.parquet(corpus_path))
    out = hybrid_chunk_sink(docs, max_tokens=64).collect()
    assert out
    assert all(r["n_tokens"] <= 64 or r["n_source_units"] == 1 for r in out)
    # chunk_no dense per doc
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_no"])
    for nos in by_doc.values():
        assert sorted(nos) == list(range(len(nos)))


def test_count_tokens_default_is_bpe(monkeypatch):
    # round 5: the default counter is the committed-vocab BPE; the regex
    # proxy stays behind DOCLING_TOKEN_COUNTER=regex
    from docling_spark.functions.bpe import bpe_count

    assert count_tokens("a b c") == 3       # single chars never split
    assert count_tokens("") == 0
    assert count_tokens("abc 123 ,x.") == bpe_count("abc 123 ,x.")
    # additivity across whitespace — the fold-ability invariant the
    # DuckDB oracle's map-parameter form depends on
    assert (count_tokens("foo bar baz")
            == count_tokens("foo") + count_tokens("bar") + count_tokens("baz"))
    monkeypatch.setenv("DOCLING_TOKEN_COUNTER", "regex")
    assert count_tokens("abc 123 ,x.") == 5  # abc, 123, ',', 'x', '.'


def test_bpe_vs_regex_boundary_shift(monkeypatch):
    """The documented behavior change of the round-5 counter switch: BPE
    splits out-of-vocab pretokens into several subwords, so counts are >=
    the regex pretoken counts and budget boundaries land EARLIER."""
    from docling_spark.functions.bpe import bpe_count

    from docling_spark.operators.hybrid_chunker import _split_words

    rare = " ".join(["zqxvwjk"] * 24)      # not in the synth training vocab
    assert bpe_count(rare) > len(rare.split())
    pieces_bpe, _ = _split_words(rare, 12, count_tokens)
    monkeypatch.setenv("DOCLING_TOKEN_COUNTER", "regex")
    pieces_rgx, _ = _split_words(rare, 12, count_tokens)
    assert len(pieces_bpe) > len(pieces_rgx)  # boundaries shifted earlier
    # both reassemble the exact text
    assert " ".join(pieces_bpe) == rare and " ".join(pieces_rgx) == rare


def test_bpe_encoder_semantics():
    from docling_spark.functions.bpe import (
        bpe_count, encode_pretoken, train_bpe)

    # committed-vocab encoder: common synth-corpus words collapse to few
    # tokens; concatenation of the encoded pieces reproduces the pretoken
    for w in ("the", "data", "section", "zqxvwjk"):
        toks = encode_pretoken(w)
        assert "".join(toks) == w
        assert 1 <= len(toks) <= len(w)
    # training is deterministic and learns the obvious merge
    merges = train_bpe(["aaab aaab aaab"], n_merges=4)
    assert merges and merges[0] == ("a", "a")
    assert train_bpe(["aaab aaab aaab"], n_merges=4) == merges


def test_tokenizer_hook_falls_back(monkeypatch):
    # with DOCLING_TOKENIZER set but no tokenizers wheel installed, the
    # counter must silently fall back to the default (import-try gate)
    import docling_spark.operators.hybrid_chunker as hc

    monkeypatch.setattr(hc, "_HF_TOKENIZER", None)
    monkeypatch.setattr(hc, "_HF_TRIED", False)
    monkeypatch.setenv("DOCLING_TOKENIZER", "no-such-model")
    assert hc.count_tokens("a b c") == 3
    assert hc.count_tokens("x1!") == 3  # letters / digits / punct split
    monkeypatch.setattr(hc, "_HF_TRIED", False)
    monkeypatch.setattr(hc, "_HF_TOKENIZER", None)


@pytest.fixture(scope="module")
def law_docs():
    """~40 synth HTML laws, extracted and enriched as the chunk stage sees
    them."""
    from docling_spark.operators.enrich import enrich_document
    from docling_spark.pipeline import extract_document
    from docling_spark.synth import synth_html_law

    return [
        (f"law-{i}", enrich_document(extract_document(synth_html_law(f"law-{i}", random.Random(i)))))
        for i in range(40)
    ]


@pytest.mark.parametrize("max_tokens", [64, 16])
@pytest.mark.parametrize("counter", ["bpe", "regex", "hf"])
def test_n_tokens_is_content_plus_headings(monkeypatch, law_docs, counter, max_tokens):
    # every stored count (split piece, K4 merge) must equal a fresh count of
    # the chunk's text and headings, under each counter; 16 tokens forces
    # the K2 window and K3 word paths
    import docling_spark.operators.hybrid_chunker as hc

    monkeypatch.delenv("DOCLING_TOKEN_COUNTER", raising=False)
    if counter == "regex":
        monkeypatch.setenv("DOCLING_TOKEN_COUNTER", "regex")
    elif counter == "hf":
        tok = _NewlineHeavy()
        monkeypatch.setattr(hc, "_hf_tokenizer", lambda: tok)
    n_split = 0
    for doc_id, spans in law_docs:
        for _doc, _no, cid, content, headings, n_tokens, _nu in hybrid_chunk_document(
                doc_id, spans, max_tokens=max_tokens):
            n_split += "/s" in cid
            assert n_tokens == count_tokens(content) + sum(count_tokens(h) for h in headings), (
                doc_id, cid, content, headings)
    if max_tokens == 16:
        assert n_split, "expected oversize units to split"


def test_bpe_count_memo_matches_encoder(monkeypatch):
    # the memoized sum equals the per-pretoken encoding, also when the memo
    # is bounded to 4 entries and so is cleared again and again
    from docling_spark.functions import bpe

    rng = random.Random(11)
    alphabet = "abcdefghijklmnopqrstuvwxyz ABCXYZ 0123456789 .,;:!?-()/§ čšžýáíéúäôňĽ\n\t"
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 300)))
             for _ in range(200)]
    texts += ["1234567890123456789 007 2024/2025 3.14", "Zákon č. 595/2003 Z. z. o dani"]

    def reference(text):
        return sum(len(bpe.encode_pretoken(w)) for w in bpe.PRETOKEN_RE.findall(text))

    for t in texts:
        assert bpe.bpe_count(t) == reference(t), t
    monkeypatch.setattr(bpe, "_MEMO", {})
    monkeypatch.setattr(bpe, "_MEMO_MAX", 4)
    for t in texts:
        assert bpe.bpe_count(t) == reference(t), t
    assert len(bpe._MEMO) <= 4


def test_counter_follows_env_between_documents(monkeypatch):
    # the counter is resolved per document, never cached for the process
    from docling_spark.functions.bpe import PRETOKEN_RE

    monkeypatch.delenv("DOCLING_TOKEN_COUNTER", raising=False)
    bpe_counts = [c[5] for c in hybrid_chunk_document("d1", _SPANS, max_tokens=10_000)]
    monkeypatch.setenv("DOCLING_TOKEN_COUNTER", "regex")
    chunks = hybrid_chunk_document("d1", _SPANS, max_tokens=10_000)
    rgx_counts = [c[5] for c in chunks]
    assert rgx_counts != bpe_counts
    assert rgx_counts == [
        len(PRETOKEN_RE.findall(content)) + sum(len(PRETOKEN_RE.findall(h)) for h in headings)
        for _d, _no, _cid, content, headings, _n, _nu in chunks]
