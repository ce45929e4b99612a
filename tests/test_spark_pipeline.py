"""Spark integration: the mapInArrow pipeline must (a) produce exactly the
same spans as the pure-Python path (mirrors the reference's
verify_results_identical equivalence harness,
/root/reference/archive_scripts/test_traversal_approaches.py:943-975),
(b) be plan-clean (no shuffle), and (c) resume from checkpoint without
recomputing completed buckets."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from docling_spark.checkpoint import run_extract
from docling_spark.pipeline import extract, extract_document
from docling_spark.synth import synth_corpus


def test_spark_matches_local(spark, corpus_path):
    df = spark.read.parquet(corpus_path)
    out = extract(df)
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in out.collect()
    }
    expected = {
        doc_id: [(k, t, r, i) for i, (k, t, r) in enumerate(extract_document(spans))]
        for doc_id, spans in synth_corpus(60, seed=42)
    }
    assert got == expected


def test_plan_is_shuffle_free(spark, corpus_path):
    df = spark.read.parquet(corpus_path)
    plan = extract(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"unexpected shuffle in extraction plan:\n{plan}"


def test_output_offsets_dense(spark, corpus_path):
    out = extract(spark.read.parquet(corpus_path))
    bad = (
        out.select(
            F.size("spans").alias("n"),
            F.expr(
                "size(filter(spans, (s, i) -> s.offset != i))"
            ).alias("misnumbered"),
        )
        .filter(F.col("misnumbered") > 0)
        .count()
    )
    assert bad == 0


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "file_uri"])
def test_checkpoint_resume_no_recompute(spark, corpus_path, tmp_path, as_uri):
    # resume must also see finished buckets through a URI, not only a path
    base = tmp_path.as_uri() if as_uri else str(tmp_path)
    out_dir, metrics_dir = f"{base}/out", f"{base}/metrics"
    in_path = f"file://{corpus_path}" if as_uri else corpus_path

    # first run crashes after 2 of 4 groups
    r1 = run_extract(
        spark, in_path, out_dir, metrics_dir,
        n_buckets=8, group_size=2, fail_after_groups=2,
    )
    assert not r1["completed"]
    done_after_crash = (
        spark.read.parquet(metrics_dir).filter("status='ok'").select("bucket").distinct().count()
    )
    assert done_after_crash == 4

    # resume: must only run the remaining 2 groups
    r2 = run_extract(spark, in_path, out_dir, metrics_dir, n_buckets=8, group_size=2)
    assert r2["completed"]
    assert r2["resumed_from"] == 4
    assert r2["groups_run"] == 2

    # final table complete and identical to a direct run
    final = spark.read.parquet(out_dir)
    assert final.count() == final.select("doc_id").distinct().count() == 60
    direct = extract(spark.read.parquet(corpus_path))
    joined = (
        final.select("doc_id", F.to_json("spans").alias("a"))
        .join(direct.select("doc_id", F.to_json("spans").alias("b")), "doc_id")
        .filter("a != b")
        .count()
    )
    assert joined == 0

    # metrics lineage: one ok row per bucket, holding the bucket's counts
    # recomputed from the input and the output
    m = spark.read.parquet(metrics_dir).filter("status='ok'")
    got = {
        r["bucket"]: (r["docs"], r["spans_in"], r["spans_out"], r["error_docs"])
        for r in m.collect()
    }
    assert m.count() == len(got) and sorted(got) == list(range(8))
    spans_in = {
        r["bucket"]: r["n"]
        for r in spark.read.parquet(corpus_path)
        .groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("bucket"))
        .agg(F.sum(F.size("spans")).alias("n")).collect()
    }
    want = {
        r["bucket"]: (r["docs"], spans_in[r["bucket"]], r["spans_out"], r["error_docs"])
        for r in final.groupBy("bucket").agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans_out"),
            F.count_if(F.exists("spans", lambda s: s["kind"] == "error")).alias("error_docs"),
        ).collect()
    }
    assert got == {b: want.get(b, (0, 0, 0, 0)) for b in range(8)}


def test_idempotent_rerun_skips_everything(spark, corpus_path, tmp_path):
    out_dir = str(tmp_path / "out2")
    metrics_dir = str(tmp_path / "metrics2")
    run_extract(spark, corpus_path, out_dir, metrics_dir, n_buckets=4, group_size=4)
    r = run_extract(spark, corpus_path, out_dir, metrics_dir, n_buckets=4, group_size=4)
    assert r["groups_run"] == 0 and r["resumed_from"] == 4

    # output written but no metrics (a crash between the two writes): the
    # groups run again and replace their output instead of appending to it
    shutil.rmtree(metrics_dir)
    r = run_extract(spark, corpus_path, out_dir, metrics_dir, n_buckets=4, group_size=4)
    assert r["groups_run"] == 1 and r["resumed_from"] == 0
    out = spark.read.parquet(out_dir)
    assert out.count() == out.select("doc_id").distinct().count() == 60


def test_window_form_reproduces_unit_assignment(spark, corpus_path):
    """SURVEY §2.5 W1: the state machine's unit assignment decomposes into
    the as-of window form — for every emitted text span, its unit ref equals
    `last(marker_ref, ignorenulls) OVER (PARTITION BY doc_id ORDER BY
    offset)` over the unit-marker spans. The UDF form is the engine (exact
    parity); this equivalence documents the semantics in pure Spark SQL and
    guards the emission contract the chunkers rely on."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from docling_spark.pipeline import extract

    out = extract(spark.read.parquet(corpus_path))
    ex = out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.media_ref").alias("media_ref"),
    )
    marker_kinds = ["part", "paragraph", "odsek", "pismeno", "subitem", "annex", "footnote"]
    w = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    asof = F.last(
        F.when(F.col("kind").isin(marker_kinds), F.col("media_ref")), ignorenulls=True
    ).over(w)
    mismatches = (
        ex.withColumn("expected", asof)
        .filter(F.col("kind") == "text")
        .filter(~F.expr("media_ref <=> expected"))
        .count()
    )
    assert mismatches == 0


def test_error_isolation_one_poisoned_doc(spark, monkeypatch):
    """A document whose extraction raises must emit one `error` span while
    every other document in the batch extracts normally."""
    import docling_spark.pipeline as P
    from docling_spark.docmap import arrow_schema, map_batch
    from docling_spark.schema import DOC_DDL

    import pyarrow as pa

    real = P.extract_document

    def boom(spans):
        if spans and spans[0][1] == "POISON":
            raise ValueError("synthetic failure")
        return real(spans)

    monkeypatch.setattr(P, "extract_document", boom)

    span_t = pa.list_(
        pa.struct(
            [("kind", pa.string()), ("text", pa.string()),
             ("media_ref", pa.string()), ("offset", pa.int32())]
        )
    )
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(["good", "bad", "good2"]),
            pa.array(
                [
                    [{"kind": "text", "text": "§ 1", "media_ref": "#paragraf-1", "offset": 0}],
                    [{"kind": "text", "text": "POISON", "media_ref": None, "offset": 0}],
                    [{"kind": "text", "text": "§ 2", "media_ref": "#paragraf-2", "offset": 0}],
                ],
                span_t,
            ),
        ],
        ["doc_id", "spans"],
    )
    out = map_batch(rb, P._extract_rows, arrow_schema(DOC_DDL)).to_pylist()
    by_id = {r["doc_id"]: r["spans"] for r in out}
    assert by_id["bad"][0]["kind"] == "error"
    assert "ValueError" in by_id["bad"][0]["text"]
    assert by_id["good"][0]["kind"] == "paragraph"
    assert by_id["good2"][0]["kind"] == "paragraph"


def test_reconstruct_never_raises_fuzz():
    """Robustness fuzz: arbitrary span streams must not crash the state
    machine, and outputs stay inside the closed kind set."""
    from hypothesis import given, settings, strategies as st

    from docling_spark.operators.hierarchy import reconstruct
    from docling_spark.schema import NORMALIZED_KINDS

    kinds = st.sampled_from(
        ["text", "section_header", "table_cell", "media", "title", "caption",
         "list_item", "page_footer", "pdf_cell", "html_bytes", "weird"]
    )
    texts = st.text(alphabet="a)(.1§ č/c0:ú\xa0\n", min_size=0, max_size=25)
    refs = st.one_of(
        st.none(),
        st.sampled_from(["#paragraf-1", "#poznamky", "p=1;l=2;t=3", "junk"]),
    )
    stream = st.lists(st.tuples(kinds, texts, refs), min_size=0, max_size=30)

    @settings(max_examples=200, deadline=None)
    @given(spans=stream)
    def run(spans):
        out = reconstruct(list(spans))
        for k, t, r in out:
            assert k in NORMALIZED_KINDS, (k, t)

    run()


def test_extract_passthrough_binds_by_declared_name_order(spark, corpus_path):
    # ADVICE regression: mapInArrow binds positionally, so extra columns
    # must emit in DECLARED order even when the input DataFrame's column
    # order differs from the extra_cols string
    from pyspark.sql import functions as F

    from docling_spark.pipeline import extract

    docs = (
        spark.read.parquet(corpus_path)
        .withColumn("beta", F.lit(7).cast("int"))       # input order: beta first
        .withColumn("alpha", F.length("doc_id").cast("int"))
    )
    out = extract(docs, extra_cols=", alpha int, beta int")  # declared: alpha first
    row = out.select("doc_id", "alpha", "beta").first()
    assert row["beta"] == 7
    assert row["alpha"] == len(row["doc_id"])

    # undeclared extras must raise loudly, not mislabel
    import pytest as _pytest

    bad = extract(docs.drop("alpha"), extra_cols=", alpha int")
    with _pytest.raises(Exception):
        bad.collect()


def test_extract_passthrough_parameterized_type_ddl(spark, corpus_path):
    # ADVICE regression: ", price decimal(10,2)" used to be ','-split into a
    # bogus column name '2)'; declared names must come from a real DDL parse
    from decimal import Decimal

    from pyspark.sql import functions as F

    from docling_spark.pipeline import extract

    docs = spark.read.parquet(corpus_path).withColumn(
        "price", F.lit("12.34").cast("decimal(10,2)")
    )
    out = extract(docs, extra_cols=", price decimal(10,2)")
    assert out.select("price").first()["price"] == Decimal("12.34")
