"""Checkpointed, resumable extraction runs (SURVEY.md §2.1 S5, §4; north_rule:
per-partition checkpointed lineage + metrics, resume without recompute).

Mechanism — the Spark-native version of the reference's per-law conversion
cache (/root/reference/annex_processor.py:377-446, process_law.py:104-131):

- documents are hash-bucketed by `pmod(xxhash64(doc_id), n_buckets)` — a
  deterministic, data-independent partitioning that survives restarts;
- buckets run in groups, one output job per group. The job overwrites the
  group's `bucket` partitions (dynamic partition overwrite, the shape of
  Iceberg's `overwritePartitions`), so a group that runs again after a
  crash replaces its output rather than appending a second copy;
- Spark `Observation`s count each bucket's docs, spans in/out and error
  docs inside that job; one small job then appends them as one metrics
  file per group, one `ok` row per bucket, empty buckets included;
- resume reads the metrics table through Spark (any Hadoop path or URI)
  and skips every bucket with an `ok` row for the stage; a missing table
  means nothing is done. A group whose output was written but whose
  metrics were not simply runs again.
"""

from __future__ import annotations

import time
import uuid
from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from docling_spark.pipeline import extract
from docling_spark.schema import METRICS_DDL


def _completed_buckets(spark: SparkSession, metrics_path: str, run_scope: str) -> List[int]:
    # ask the path's Hadoop file system first: a read of a missing path fails
    # after Spark has already logged its stack traces
    sc = spark.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path(metrics_path)
    if not path.getFileSystem(sc._jsc.hadoopConfiguration()).exists(path):
        return []
    m = spark.read.schema(METRICS_DDL).parquet(metrics_path)
    rows = m.filter((F.col("status") == "ok") & (F.col("stage") == run_scope)).select("bucket")
    return sorted({r["bucket"] for r in rows.collect()})


def _observe(df: DataFrame, group: List[int], **values: Column) -> Tuple[DataFrame, Observation]:
    """`df` observed with one `<name>_<bucket>` sum per bucket of `group` per
    named value, 0 for a bucket without rows."""
    obs = Observation()
    df = df.observe(obs, *[
        F.coalesce(F.sum(F.when(F.col("bucket") == b, v)), F.lit(0)).alias(f"{name}_{b}")
        for name, v in values.items() for b in group
    ])
    return df, obs


def run_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    metrics_path: str,
    n_buckets: int = 16,
    group_size: int = 4,
    run_id: Optional[str] = None,
    fail_after_groups: Optional[int] = None,
) -> dict:
    """Run (or resume) a checkpointed extraction.

    `fail_after_groups` injects a crash after N groups — used by tests to
    prove resume-without-recompute. Returns a summary dict.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    stage = "extract"

    docs = spark.read.parquet(input_path).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )

    done = _completed_buckets(spark, metrics_path, stage)
    todo = [b for b in range(n_buckets) if b not in done]
    groups = [todo[i : i + group_size] for i in range(0, len(todo), group_size)]

    processed_groups, crashed = 0, False
    for group in groups:
        t0 = time.time()
        part, seen_in = _observe(
            docs.filter(F.col("bucket").isin(group)), group, spans_in=F.size("spans")
        )
        out, seen_out = _observe(
            extract(part, extra_cols=", bucket int"), group,
            docs=F.lit(1), spans_out=F.size("spans"),
            error_docs=F.exists("spans", lambda s: s["kind"] == "error").cast("int"),
        )
        (out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(output_path))
        wall_ms = int((time.time() - t0) * 1000)

        n = {**seen_in.get, **seen_out.get}
        rows = [
            (run_id, stage, b, n[f"docs_{b}"], n[f"spans_in_{b}"], n[f"spans_out_{b}"],
             n[f"error_docs_{b}"], "ok", wall_ms)
            for b in group
        ]
        # from pandas, so the rows go over Arrow rather than a Python-worker RDD
        metrics = spark.createDataFrame(pd.DataFrame(rows), METRICS_DDL)
        metrics.coalesce(1).write.mode("append").parquet(metrics_path)

        processed_groups += 1
        if fail_after_groups is not None and processed_groups >= fail_after_groups:
            crashed = True
            break

    return {
        "run_id": run_id,
        "resumed_from": len(done),
        "groups_run": processed_groups,
        "completed": not crashed,
    }
