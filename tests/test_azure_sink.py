"""Azure serializer sink — differential parity against the reference's OWN
AzureDocSerializer (transforms/serializer/azure.py) plus Spark-side wiring.

The differential constructs DoclingDocuments through docling-core's public
builder API (add_title/add_text/add_table/add_picture with provenance),
serializes with the reference class, and compares BYTE-FOR-BYTE against
render_azure applied to doc.export_to_dict() — the strongest available
oracle, the same strategy test_reference_differential.py uses for the
extraction path."""

import json

import pytest


@pytest.fixture(scope="module")
def core():
    import sys

    from tools.bench_reference import REFERENCE, _install_import_stubs

    _install_import_stubs()
    sys.path.insert(0, f"{REFERENCE}/docling_code/docling-core-main")
    try:
        from docling_core.transforms.serializer.azure import (
            AzureDocSerializer, AzureParams)
        from docling_core.types.doc.base import BoundingBox, CoordOrigin, Size
        from docling_core.types.doc.document import (
            DoclingDocument, ProvenanceItem, TableCell, TableData)
        from docling_core.types.doc.labels import DocItemLabel
    except Exception as exc:  # pragma: no cover
        pytest.skip(f"reference docling-core not importable: {exc}")
    return dict(Ser=AzureDocSerializer, Params=AzureParams, BBox=BoundingBox,
                Origin=CoordOrigin, Size=Size, Doc=DoclingDocument,
                Prov=ProvenanceItem, Cell=TableCell, Data=TableData,
                Label=DocItemLabel)


def _prov(core, page=1, l=10.0, t=10.0, r=200.0, b=40.0, origin=None):
    return core["Prov"](
        page_no=page,
        bbox=core["BBox"](l=l, t=t, r=r, b=b,
                          coord_origin=origin or core["Origin"].TOPLEFT),
        charspan=(0, 0),
    )


def _build_doc(core, seed: int):
    """One deterministic document exercising every azure branch: roles,
    BOTTOMLEFT normalization, prov-less skip, spanning header cells, cell
    bboxes, picture footnotes, a list group."""
    doc = core["Doc"](name=f"az-{seed}")
    doc.add_page(page_no=1, size=core["Size"](width=612.0, height=792.0))
    doc.add_title(text=f"Dokument {seed}", prov=_prov(core))
    doc.add_text(label=core["Label"].SECTION_HEADER, text=f"Časť {seed}",
                 prov=_prov(core, l=10.0, t=712.0 - seed, r=300.0, b=692.0 - seed,
                            origin=core["Origin"].BOTTOMLEFT))
    doc.add_text(label=core["Label"].TEXT, text="no prov — skipped")
    if seed % 2:
        doc.add_text(label=core["Label"].PAGE_FOOTER, text=f"s. {seed}",
                     prov=_prov(core, t=770.0, b=790.0))
    lst = doc.add_list_group()
    doc.add_list_item(text=f"položka {seed}", parent=lst,
                      prov=_prov(core, t=60.0 + seed, b=72.0 + seed))
    data = core["Data"](num_rows=2, num_cols=2, table_cells=[
        core["Cell"](text=f"Hlavička {seed}", start_row_offset_idx=0,
                     end_row_offset_idx=1, start_col_offset_idx=0,
                     end_col_offset_idx=2, row_span=1, col_span=2,
                     column_header=True),
        core["Cell"](text=f" a{seed} ", start_row_offset_idx=1,
                     end_row_offset_idx=2, start_col_offset_idx=0,
                     end_col_offset_idx=1,
                     bbox=core["BBox"](l=20.0, t=140.0, r=160.0, b=200.0,
                                       coord_origin=core["Origin"].TOPLEFT)),
        core["Cell"](text=f"b{seed}", start_row_offset_idx=1,
                     end_row_offset_idx=2, start_col_offset_idx=1,
                     end_col_offset_idx=2, row_header=True),
    ])
    doc.add_table(data=data, prov=_prov(core, l=20.0, t=80.0, r=300.0, b=200.0))
    foot = doc.add_text(label=core["Label"].FOOTNOTE, text=f"Pozn. {seed}",
                        prov=_prov(core, t=700.0, b=712.0, r=150.0))
    pic = doc.add_picture(prov=_prov(core, l=320.0, t=80.0, r=500.0, b=220.0))
    pic.footnotes.append(foot.get_ref())
    return doc


def test_render_azure_matches_reference_bytes(core):
    from docling_spark.operators.serialize import render_azure

    for seed in range(6):
        doc = _build_doc(core, seed)
        ref = core["Ser"](doc=doc, params=core["Params"]()).serialize().text
        ours = render_azure(json.dumps(doc.export_to_dict()))
        assert ours == ref, f"seed {seed}: byte mismatch"
        # and the indented form (the reference test uses indent=2)
        ref2 = core["Ser"](doc=doc, params=core["Params"](indent=2)).serialize().text
        ours2 = render_azure(json.dumps(doc.export_to_dict()), indent=2)
        assert ours2 == ref2


def test_azure_sink_spark(core, spark):
    from docling_spark.operators.serialize import azure_sink

    payloads = [(f"az-{s}", json.dumps(_build_doc(core, s).export_to_dict()))
                for s in range(4)]
    df = spark.createDataFrame(payloads, "doc_id string, payload string")
    out = {r["doc_id"]: r["azure"] for r in azure_sink(df).collect()}
    assert len(out) == 4
    for s in range(4):
        ref = core["Ser"](doc=_build_doc(core, s)).serialize().text
        assert out[f"az-{s}"] == ref
        parsed = json.loads(out[f"az-{s}"])
        assert parsed["tables"][0]["cells"][0]["kind"] == "columnHeader"
        assert parsed["figures"][0]["footnotes"][0]["content"] == f"Pozn. {s}"


def test_render_azure_never_raises_fuzz():
    """Adversarial docling-JSON payloads — missing keys, nulls, wrong
    types, dangling refs, group cycles — must render to valid four-key
    JSON, never raise (per-doc robustness is what keeps a 100 TB job from
    dying on one malformed document)."""
    import json
    import random

    from docling_spark.operators.serialize import render_azure

    rng = random.Random(11)

    def junk(depth=0):
        r = rng.random()
        if depth > 3 or r < 0.25:
            return rng.choice([None, "", "x", 1, 1.5, True, "#/texts/0", "#/groups/0"])
        if r < 0.5:
            return [junk(depth + 1) for _ in range(rng.randint(0, 3))]
        keys = ["$ref", "text", "label", "prov", "page_no", "bbox", "l", "t",
                "r", "b", "coord_origin", "data", "grid", "children",
                "footnotes", "size", "width", "height"]
        return {rng.choice(keys): junk(depth + 1) for _ in range(rng.randint(0, 4))}

    for i in range(200):
        payload = {
            "pages": junk(), "texts": junk(), "tables": junk(),
            "pictures": junk(), "groups": junk(), "body": junk(),
        }
        out = render_azure(json.dumps(payload))
        parsed = json.loads(out)
        assert set(parsed) == {"pages", "tables", "figures", "paragraphs"}
    # group self-cycle must terminate
    cyc = {"groups": [{"children": [{"$ref": "#/groups/0"}]}],
           "body": {"children": [{"$ref": "#/groups/0"}]}}
    json.loads(render_azure(json.dumps(cyc)))


def test_render_azure_multipage_and_missing_size(core):
    """Page-2 normalization uses page 2's height; a page registered
    without a size is omitted from pages[] and its BOTTOMLEFT items keep
    raw coordinates (the reference normalizes only when size is known)."""
    import json

    from docling_spark.operators.serialize import render_azure

    doc = core["Doc"](name="mp")
    doc.add_page(page_no=1, size=core["Size"](width=600.0, height=800.0))
    doc.add_page(page_no=2, size=core["Size"](width=600.0, height=400.0))
    doc.add_title(text="T", prov=_prov(core, page=1))
    doc.add_text(label=core["Label"].TEXT, text="p2 body",
                 prov=_prov(core, page=2, t=300.0, b=280.0,
                            origin=core["Origin"].BOTTOMLEFT))
    # page 3 exists only as an item's provenance — not registered at all
    doc.add_text(label=core["Label"].TEXT, text="p3 body",
                 prov=_prov(core, page=3, t=50.0, b=30.0,
                            origin=core["Origin"].BOTTOMLEFT))
    ref = core["Ser"](doc=doc, params=core["Params"]()).serialize().text
    ours = render_azure(json.dumps(doc.export_to_dict()))
    assert ours == ref
    parsed = json.loads(ours)
    assert [p["pageNumber"] for p in parsed["pages"]] == [1, 2]
    # page-2 normalization: t' = 400 − 300 = 100
    p2 = [p for p in parsed["paragraphs"] if p["content"] == "p2 body"][0]
    assert p2["boundingRegions"][0]["polygon"][1] == 100.0
    # unregistered page: raw coordinates pass through
    p3 = [p for p in parsed["paragraphs"] if p["content"] == "p3 body"][0]
    assert p3["boundingRegions"][0]["polygon"][1] == 50.0


def _group_chain(depth):
    """body → group 0 → group 1 → … → group depth-1 → text 0, then text 1
    after the chain at body level."""
    prov = [{"page_no": 1, "bbox": {"l": 1, "t": 2, "r": 3, "b": 4}}]
    groups = [{"children": [{"$ref": f"#/groups/{i + 1}"}]} for i in range(depth - 1)]
    groups.append({"children": [{"$ref": "#/texts/0"}]})
    return {
        "texts": [{"text": "inner", "prov": prov}, {"text": "after", "prov": prov}],
        "groups": groups,
        "body": {"children": [{"$ref": "#/groups/0"}, {"$ref": "#/texts/1"}]},
    }


def test_render_azure_deep_group_chain():
    # groups chained deeper than Python's recursion limit render, in
    # depth-first order, like a shallow chain
    from docling_spark.operators.serialize import render_azure

    for depth in (1, 20_000):
        out = json.loads(render_azure(json.dumps(_group_chain(depth))))
        assert [p["content"] for p in out["paragraphs"]] == ["inner", "after"]


def test_azure_sink_spark_matches_render_azure(spark):
    from docling_spark.operators.serialize import azure_sink, render_azure

    payloads = [("deep", json.dumps(_group_chain(20_000))),
                ("flat", json.dumps(_group_chain(2))), ("null", None)]
    # doc_id after the payload: the output still leads with doc_id
    df = spark.createDataFrame([(p, d) for d, p in payloads], "payload string, doc_id string")
    out = azure_sink(df)
    assert out.columns == ["doc_id", "azure"]
    got = {r["doc_id"]: r["azure"] for r in out.collect()}
    assert got == {d: render_azure(p) for d, p in payloads}


def test_azure_sink_renders_unparsable_payload_empty(spark):
    # a payload json.loads rejects (nested past its recursion limit, or cut
    # short) renders as the empty layout, like a null one, and the rows
    # around it are unchanged
    from docling_spark.operators.serialize import azure_sink, render_azure

    good = json.dumps(_group_chain(2))
    payloads = [("good1", good), ("deep", "[" * 2000 + "]" * 2000),
                ("cut", good[: len(good) // 2]), ("good2", good)]
    df = spark.createDataFrame(payloads, "doc_id string, payload string")
    got = {r["doc_id"]: r["azure"] for r in azure_sink(df).collect()}
    assert len(got) == 4
    assert got["good1"] == got["good2"] == render_azure(good)
    assert json.loads(got["good1"])["paragraphs"]
    assert got["deep"] == got["cut"] == render_azure(None)
