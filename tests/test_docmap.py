"""The per-document Arrow map (docling_spark.docmap): how spans cross the
Arrow boundary in and out of every span stage, checked one batch at a time,
and the per-row form the spans-free stages run on."""

import pyarrow as pa
import pytest

from docling_spark.docmap import arrow_schema, map_batch, map_rows
from docling_spark.schema import DOC_DDL

SPAN_T = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                             ("media_ref", pa.string()), ("offset", pa.int32())]))


def _spans(*triples):
    return [{"kind": k, "text": t, "media_ref": r, "offset": 99} for k, t, r in triples]


def _out_spans(*triples):
    return [{"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r) in enumerate(triples)]


def _batch(doc_ids, spans, **extra):
    cols = {"doc_id": pa.array(doc_ids, pa.string()), "spans": pa.array(spans, SPAN_T)}
    cols.update(extra)
    return pa.RecordBatch.from_pydict(cols)


def _echo(doc_id, spans):
    return [(doc_id, spans)]


def _two_rows(doc_id, spans):
    return [(doc_id, f"{doc_id}:{len(spans)}"), (doc_id, "tail")]


def _flags(doc_id, spans):
    return [(doc_id, spans, [s[3] for s in spans])]


A = ("text", "alpha", "#p1")
B = ("text", "beta", None)
C = ("title", "gamma", "#t")

CASES = {
    "null_spans_row": dict(
        rb=_batch(["a", "b"], [_spans(A), None]), fn=_echo, ddl=DOC_DDL,
        seen=[("a", [A]), ("b", [])],
        out=[{"doc_id": "a", "spans": _out_spans(A)}, {"doc_id": "b", "spans": []}]),
    "empty_batch": dict(
        rb=_batch([], []), fn=_echo, ddl=DOC_DDL, seen=[], out=[]),
    "sliced_batch": dict(
        rb=_batch(["a", "b", "c", "d"], [_spans(A), _spans(B, C), _spans(C), _spans(A)]).slice(1, 2),
        fn=_echo, ddl=DOC_DDL,
        seen=[("b", [B, C]), ("c", [C])],
        out=[{"doc_id": "b", "spans": _out_spans(B, C)}, {"doc_id": "c", "spans": _out_spans(C)}]),
    "none_media_ref": dict(
        rb=_batch(["a"], [_spans(B, B)]), fn=_echo, ddl=DOC_DDL,
        seen=[("a", [B, B])],
        out=[{"doc_id": "a", "spans": _out_spans(B, B)}]),
    "fmt_shorter_than_spans": dict(
        rb=_batch(["a", "b"], [_spans(A, B, C), _spans(A)],
                  fmt=pa.array([["B"], None], pa.list_(pa.string()))),
        fn=_flags, ddl=DOC_DDL + ", fmt array<string>", with_fmt=True,
        seen=[("a", [A + ("B",), B + ("",), C + ("",)]), ("b", [A + ("",)])],
        out=[{"doc_id": "a", "spans": _out_spans(A, B, C), "fmt": ["B", "", ""]},
             {"doc_id": "b", "spans": _out_spans(A), "fmt": [""]}]),
    "multi_row_sink_with_passthrough": dict(
        # the input carries `bucket` after an undeclared column; the
        # declared field binds by name
        rb=_batch(["a", "b"], [_spans(A, B), []],
                  other=pa.array(["x", "y"]), bucket=pa.array([7, 3], pa.int32())),
        fn=_two_rows, ddl="doc_id string, label string, bucket int",
        seen=[("a", [A, B]), ("b", [])],
        out=[{"doc_id": "a", "label": "a:2", "bucket": 7},
             {"doc_id": "a", "label": "tail", "bucket": 7},
             {"doc_id": "b", "label": "b:0", "bucket": 3},
             {"doc_id": "b", "label": "tail", "bucket": 3}]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_map_batch(spark, name):
    case = CASES[name]
    seen = []

    def fn(doc_id, spans):
        seen.append((doc_id, list(spans)))
        return case["fn"](doc_id, spans)

    schema = arrow_schema(case["ddl"])
    out = map_batch(case["rb"], fn, schema, case.get("with_fmt", False))
    assert out.schema == schema
    assert seen == case["seen"]
    assert out.to_pylist() == case["out"]


def test_map_batch_undeclared_passthrough_raises(spark):
    with pytest.raises(ValueError, match="bucket"):
        map_batch(_batch(["a"], [_spans(A)]), _echo, arrow_schema(DOC_DDL + ", bucket int"))


def test_map_rows(spark):
    """`map_rows` calls `fn` once per row with the named columns' values (a
    null as None, binary as bytes), stacks its tuples in row order, and
    passes a declared field beyond their width through from the row."""
    df = spark.createDataFrame(
        [("a", bytearray(b"xy"), 7), (None, None, 3), ("c", bytearray(), 5)],
        "name string, blob binary, bucket int")

    def fn(name, blob):
        if name is None:
            return [("<null>", blob is None)]
        return [(name, isinstance(blob, bytes))] * len(blob)

    out = map_rows(df, fn, ("name", "blob"), "name string, ok boolean, bucket int")
    assert [tuple(r) for r in out.collect()] == [
        ("a", True, 7), ("a", True, 7), ("<null>", True, 3)]


def test_worker_skips_unchanged_zip_rereads(spark):
    """In a Python worker that has imported the engine, the per-task
    `importlib.invalidate_caches()` re-reads no unchanged zip or jar on the
    worker path (the stock `zipimporter` re-reads one archive per importer)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import docling_spark  # noqa: F401  (installs the stat check)

        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "importers": [importers]})

    row = (spark.range(1).repartition(1)
           .mapInArrow(probe, "reads long, importers long").collect()[0])
    if row["importers"] == 0:
        pytest.skip("the Python worker has no zipimporter (SPARK_HOME unset?)")
    assert row["reads"] == 0


def test_chained_maps_equal_separate_maps(spark, corpus_path):
    """extract → enrich → markdown → MinHash (and → hybrid chunks) run as one
    chained map; every step localCheckpointed in between runs each map on
    its own. Both give the same rows in the same order."""
    from docling_spark.operators.enrich import enrich
    from docling_spark.operators.hybrid_chunker import hybrid_chunk_sink
    from docling_spark.operators.serialize import markdown_sink
    from docling_spark.ops.dedup import minhash_signature
    from docling_spark.pipeline import extract

    def run(cut):
        enriched = cut(enrich(cut(extract(spark.read.parquet(corpus_path)))))
        markdown = cut(markdown_sink(enriched))
        sig = minhash_signature(markdown, text_col="markdown")
        maps = sig._jdf.queryExecution().executedPlan().toString().count("MapInArrow")
        return maps, (markdown.collect(), sig.collect(), hybrid_chunk_sink(enriched).collect())

    maps, chained = run(lambda df: df)
    assert maps == 1
    _, separate = run(lambda df: df.localCheckpoint())
    assert [len(rows) for rows in chained] == [60, 60, len(separate[2])]
    assert len(separate[2]) > 60  # several chunks per document
    assert any(r["mh_0"] is not None for r in chained[1])
    assert chained == separate


def test_curation_below_chain_equals_curation_of_checkpoint(spark, corpus_path):
    """neardup_curation over the chained extract → enrich (anti-join below
    the maps) gives the same rows, columns and column order as over the
    localCheckpointed enrich output, and so do the chunks of each."""
    from docling_spark.operators.enrich import enrich
    from docling_spark.operators.hybrid_chunker import hybrid_chunk_sink
    from docling_spark.ops.dedup import neardup_curation
    from docling_spark.pipeline import extract

    ids = sorted(r[0] for r in spark.read.parquet(corpus_path).select("doc_id").collect())
    pairs = spark.createDataFrame([(ids[0], ids[1]), (ids[1], ids[2]), (ids[7], ids[30])],
                                  "id_a string, id_b string")

    def run(cut):
        kept = neardup_curation(cut(enrich(extract(spark.read.parquet(corpus_path)))), pairs)
        chunks = hybrid_chunk_sink(kept)
        return kept.columns, kept.collect(), chunks.columns, chunks.collect()

    below = run(lambda df: df)
    above = run(lambda df: df.localCheckpoint())
    assert len(below[1]) == 57 and len(below[3]) > 57
    assert below == above
