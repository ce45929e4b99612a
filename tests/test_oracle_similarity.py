"""The similarity, simhash and packing queries against their DuckDB
oracles (`__spark_entry__.oracle_sql()`) on the driver's default scale,
compared by `tools/check_oracle_parity.compare`. `semdedup` runs 32 cells,
so it covers the two-level assignment."""

import os
import sys

import pytest

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = E._SF_DEFAULT
QUERIES = [
    "ann_cosine_topk", "ann_ivf_kmeans_topk", "ann_ivfpq_topk",
    "ann_bucketed_topk", "semdedup", "simhash_neardup", "sequence_pack",
]

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason=f"{SF_DIR} is absent")


def test_similarity_queries_match_oracles(spark, monkeypatch):
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle_parity import TABLES, compare

    # oracles that train quantizers read the same scale's parquet
    monkeypatch.setenv("DOCLING_ORACLE_SF_DIR", SF_DIR)
    oracles = E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    queries = E.queries()
    verdicts = {}
    for name in QUERIES:
        got = queries[name](spark, SF_DIR).toPandas()
        want = con.execute(oracles[name]).fetchdf()
        verdicts[name] = compare(name, got, want) if len(got) else "EMPTY"
    assert verdicts == {name: "OK" for name in QUERIES}
