"""Physical-plan regression guards for the scale paths.

These assert the *shape* Catalyst picks, not results: the LSH/IVF/near-dup
joins must stay bucket equi-joins (a broken join condition silently degrades
to a cartesian product that still returns correct rows at test scale but
explodes at 100 TB), and dimension joins must broadcast.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"word{i} common tokens here for doc {i}", "en") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_minhash_band_pairs_is_equi_join(docs):
    from docling_spark.ops.dedup import minhash_band_pairs

    plan = _plan(minhash_band_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_embedding_neardup_is_equi_join(emb):
    from docling_spark.ops.similarity import embedding_neardup_pairs

    plan = _plan(embedding_neardup_pairs(emb, bits=4, dim=8))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_ann_bucketed_join_shape(emb):
    from docling_spark.ops.similarity import ann_bucketed_topk

    plan = _plan(ann_bucketed_topk(emb, query_ids=[0], k=3, bits=4, dim=8))
    assert "CartesianProduct" not in plan


def test_ann_ivf_cell_join_broadcasts_queries(emb):
    from docling_spark.ops.similarity import ann_ivf_topk

    plan = _plan(ann_ivf_topk(emb, query_ids=[0], k=3, n_cells=4, n_probe=2, dim=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the tiny probed-query side


def test_ann_ivf_join_condition_binds_distinct_attributes(emb):
    # Both join sides descend from the same `emb` lineage; without explicit
    # aliases Spark resolved cell == cell via its trivially-true-predicate
    # self-join heuristic (logged WARN, version-fragile). The analyzed plan
    # must show the equi-join bound to two DIFFERENT expression IDs.
    import re

    from docling_spark.ops.similarity import ann_ivf_topk

    df = ann_ivf_topk(emb, query_ids=[0], k=3, n_cells=4, n_probe=2, dim=8)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    m = re.search(r"cell#(\d+)L? = cell#(\d+)L?", analyzed)
    assert m, f"no cell equi-join found in analyzed plan:\n{analyzed}"
    assert m.group(1) != m.group(2), "join condition collapsed to cell == cell"


def test_exact_cosine_broadcasts_query_side(emb):
    from docling_spark.ops.similarity import cosine_topk

    # brute-force path: the deliberate cross join must broadcast the tiny
    # query side (BroadcastNestedLoopJoin), never shuffle the corpus twice
    plan = _plan(cosine_topk(emb, query_ids=[0], k=3))
    assert "BroadcastNestedLoopJoin" in plan


def test_dedup_exact_shuffles_hash_only(docs):
    from docling_spark.ops.dedup import exact_dup_groups

    plan = _plan(exact_dup_groups(docs))
    # the exchange key is the md5 hash; the raw text column must be pruned
    # before the shuffle (project-then-aggregate, partial+final)
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.count("Exchange") == 1


def test_tpch_q5_shape_broadcasts_dims(spark):
    import __spark_entry__ as E

    df = E.q_local_supplier_volume(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation/region build sides


def test_scan_prunes_columns(spark):
    # column pruning reaches the parquet scan: a 2-column projection must
    # not read the full lineitem schema
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    plan = _plan(df)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "l_extendedprice" not in scan[0]
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan

def test_simhash_neardup_plan_is_equi_join(docs):
    from docling_spark.ops.dedup import simhash_neardup_pairs

    plan = simhash_neardup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_components_plan_has_no_cartesian(spark):
    from docling_spark.ops.dedup import dup_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    plan = dup_components(pairs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_neardup_curation_broadcasts_losers(spark):
    # under the driver bound the components come back as a local relation
    # of known size, so the anti-join broadcasts the few losers instead of
    # shuffling the whole corpus; a Python-RDD result (ExistingRDD) has no
    # size estimate and plans as a SortMergeJoin over two Exchanges
    from docling_spark.ops.dedup import neardup_curation

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("text "), F.col("id")).alias("text")
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    plan = _plan(neardup_curation(docs, pairs))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "ExistingRDD" not in plan


def test_aqe_splits_skewed_join(spark):
    """The session's AQE config actually engages on a skewed shuffle join:
    the finalized adaptive plan shows SortMergeJoin(skew=true) with skewed
    AQEShuffleReads — the runtime re-plan the north rule relies on for
    cross-document joins (thresholds lowered so local-scale data skews)."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = spark.range(0, 60000).select(
            F.when(F.col("id") < 50000, F.lit(7)).otherwise(F.col("id") % 40).alias("k"),
            F.concat(F.lit("x" * 200), F.col("id").cast("string")).alias("payload"),
        )
        other = spark.range(0, 60000).select(
            (F.col("id") % 40).alias("k"), F.col("id").alias("v")
        )
        j = big.join(other, "k").select(F.sum(F.length("payload") + F.col("v")))
        j.collect()  # finalize THIS DataFrame's adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semdedup_pairs_are_cell_equi_join(emb):
    from docling_spark.ops.similarity import semdedup

    plan = _plan(semdedup(emb, n_cells=4, dim=8, threshold=0.95))
    # the corpus-side self-compare must be a hash equi-join on cell; the
    # only nested-loop allowed is the broadcast of the tiny centroid table
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # centroid assign + cent_cos


def test_c4_clean_has_no_cartesian(docs):
    from docling_spark.ops.textstats import c4_clean

    plan = _plan(c4_clean(docs))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_bm25_topk_uses_take_ordered(docs):
    from docling_spark.ops.retrieval import bm25_topk

    plan = _plan(bm25_topk(docs, ["common", "tokens"], k=5))
    # global top-k must be TakeOrderedAndProject (per-partition heap),
    # never a full Sort feeding a single-partition window over the corpus
    assert "TakeOrderedAndProject" in plan


def test_semdedup_reuse_plan_recomputes_no_assignment(spark):
    """The pay-once-assign-twice composition (semdedup_reuse): the
    localCheckpointed ivf_assign output feeds BOTH the cell-population
    rollup and semdedup's clustering, so the composed physical plan must
    contain no assignment machinery at all — no cross/nested-loop join
    against a centroid table survives the checkpoint boundary."""
    import numpy as np

    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from docling_spark.ops.similarity import ivf_assign, semdedup

    assigned = ivf_assign(emb, n_cells=32).localCheckpoint(eager=False)
    pop = assigned.groupBy("cell").agg(F.count("*").alias("cell_n"))
    sd = semdedup(emb, threshold=0.35, n_cells=32, assigned=assigned)
    out = sd.join(pop, "cell").select("vec_id", "cell", "cell_n",
                                      "cent_cos_e6", "kept")
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # flat-assign fingerprint
    # the assignment sits behind exactly the checkpoint scans
    assert "ExistingRDD" in plan


def _span_docs(spark):
    from docling_spark.schema import DOC_DDL

    return spark.createDataFrame(
        [("d1", [("paragraph", "§ 1", "#paragraf-1", 0), ("text", "body", "#paragraf-1", 1)])],
        DOC_DDL,
    )


def test_span_stages_are_arrow_maps(spark):
    """enrich → markdown_sink, enrich → hybrid_chunk_sink and enrich →
    markdown_sink → minhash_signature each compile to one narrow MapInArrow
    stage (docmap.map_batches chains each map onto the one before): no
    MapInPandas, no exchange."""
    from docling_spark.operators.enrich import enrich
    from docling_spark.operators.hybrid_chunker import hybrid_chunk_sink
    from docling_spark.operators.serialize import markdown_sink
    from docling_spark.ops.dedup import minhash_signature

    enriched = enrich(_span_docs(spark))
    for out in (markdown_sink(enriched), hybrid_chunk_sink(enriched),
                minhash_signature(markdown_sink(enriched), text_col="markdown")):
        plan = _plan(out)
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan
        assert "Exchange" not in plan


def test_spans_free_stages_are_arrow_maps(spark):
    """The per-row stages that take no spans (the media decoders, code
    chunks, Azure layout, DocTags parsing) each compile to one narrow
    MapInArrow stage, and read_doctags(doctags_sink(docs)) chains into one:
    no MapInPandas, no exchange."""
    from docling_spark.operators.code_chunker import code_chunk_sink
    from docling_spark.operators.serialize import azure_sink, doctags_sink
    from docling_spark.ops import multimodal as M
    from docling_spark.sources.readers import read_doctags

    media = spark.createDataFrame(
        [("m", "image/png", bytearray(b"x"))],
        "media_id string, media_type string, payload binary")
    code = spark.createDataFrame(
        [("c", "python", "x = 1")], "doc_id string, language string, code string")
    azure = spark.createDataFrame([("a", "{}")], "doc_id string, payload string")
    doctags = spark.createDataFrame([("d", "<doctag></doctag>")],
                                    "doc_id string, doctags string")
    stages = (M.media_metadata, M.image_features, M.frame_sample,
              M.audio_features, M.image_resize, M.image_dhash,
              M.audio_fingerprints, M.video_frame_hashes)
    outs = [stage(media) for stage in stages] + [
        code_chunk_sink(code), azure_sink(azure), read_doctags(doctags),
        read_doctags(doctags_sink(_span_docs(spark)))]
    for out in outs:
        plan = _plan(out)
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan
        assert "Exchange" not in plan


def test_map_chain_ends_at_cache_checkpoint_and_join(spark):
    """A persisted map output, or any new DataFrame built from one, is read
    as it is: the next map runs separately over it."""
    from docling_spark.operators.enrich import enrich
    from docling_spark.operators.serialize import markdown_sink

    cached = enrich(_span_docs(spark)).cache()
    try:
        plan = _plan(markdown_sink(cached))
        assert "InMemoryTableScan" in plan
        # above the cache scan, only markdown's map; enrich's sits in the cache
        assert plan.split("InMemoryTableScan")[0].count("MapInArrow") == 1, plan
    finally:
        cached.unpersist()

    ckpt = enrich(_span_docs(spark)).localCheckpoint()
    plan = _plan(markdown_sink(ckpt))
    assert plan.count("MapInArrow") == 1, plan
    assert "ExistingRDD" in plan

    enriched = enrich(_span_docs(spark))
    joined = enriched.join(enriched.select("doc_id"), "doc_id")
    plan = _plan(markdown_sink(joined))
    assert plan.count("MapInArrow") == 3, plan  # enrich on each side, then markdown


def _loser_pairs(spark):
    return spark.createDataFrame([("d1", "d2")], "id_a string, id_b string")


def test_curation_filters_below_map_chain(spark):
    """neardup_curation over an unpersisted map chain anti-joins the losers
    below the chain's maps (docmap.filter_below), so the chunker chains on:
    scan → broadcast LeftAnti → one MapInArrow, no shuffle."""
    from docling_spark.operators.enrich import enrich
    from docling_spark.operators.hybrid_chunker import hybrid_chunk_sink
    from docling_spark.ops.dedup import neardup_curation

    plan = _plan(hybrid_chunk_sink(neardup_curation(enrich(_span_docs(spark)),
                                                    _loser_pairs(spark))))
    assert plan.count("MapInArrow") == 1, plan
    above, below = plan.split("BroadcastHashJoin", 1)
    assert "MapInArrow" in above and "LeftAnti" in below.split("\n")[0], plan
    assert "Exchange hashpartitioning" not in plan


def test_curation_keeps_join_above_other_inputs(spark):
    """A plain frame, a persisted chain, a chain whose input has no doc_id
    and an id_col other than doc_id keep the anti-join on top of the input,
    maps and all."""
    from docling_spark.docmap import map_rows
    from docling_spark.operators.enrich import enrich
    from docling_spark.ops.dedup import neardup_curation

    def same(*vals):
        return [vals]

    rows = spark.createDataFrame([("u1", "d1", "x"), ("u2", "d2", "y")],
                                 "uid string, doc_id string, text string")
    cached = enrich(_span_docs(spark)).cache()
    cases = {
        "plain": (_span_docs(spark), "doc_id", 0),
        "persisted": (cached, "doc_id", 0),
        "no_doc_id_input": (map_rows(rows.select(F.col("doc_id").alias("key"), "text"), same,
                                     ("key", "text"), "doc_id string, text string"), "doc_id", 1),
        "uid": (map_rows(rows, same, ("uid", "doc_id"), "uid string, doc_id string, text string"),
                "uid", 1),
    }
    try:
        for name, (df, id_col, maps) in cases.items():
            plan = _plan(neardup_curation(df, _loser_pairs(spark), id_col=id_col))
            above, below = plan.split("BroadcastHashJoin", 1)
            assert "MapInArrow" not in above, (name, plan)
            assert below.split("InMemoryTableScan")[0].count("MapInArrow") == maps, (name, plan)
    finally:
        cached.unpersist()
