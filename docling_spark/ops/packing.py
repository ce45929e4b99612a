"""Sequence packing for LLM training: the GPT-style concat-then-chunk
layout (documents concatenated in a fixed order with an EOS separator,
then cut into fixed-length training sequences — GPT-3 §2.1 / T5 "packing").
The operator computes, per document, WHERE it lands in that packed stream:
global start offset, first/last sequence index, span count, and the offset
inside its first sequence — the bookkeeping a distributed tokenizer-packer
shards by.

The core is a GLOBAL PREFIX SUM over token counts in doc_id order. A naive
`sum() over (order by doc_id)` window moves the whole corpus into ONE
partition (Spark warns `SinglePartition` — the exact anti-pattern the
salting module's plan tests forbid). Instead this is the classic two-phase
distributed scan:

  1. range-partition by doc_id and sort within partitions — each partition
     holds a contiguous id range;
  2. per-partition local cumulative sums (one narrow mapInPandas);
  3. per-partition TOTALS — one bounded row per partition — collected to
     the driver (like the k-means/PQ training samples: a parameter-sized
     collect, ~n_partitions values) and turned into per-partition base
     offsets;
  4. base + local cumsum = the exact global prefix, regardless of how the
     range partitioner drew its boundaries (the output is a pure function
     of (doc_id order, token counts), so it is deterministic across
     cluster sizes and reruns — the property the DuckDB oracle checks).

At 10^12 documents phase 3 collects one row per partition (≤ a few
thousand), phases 1–2 are one range shuffle + a narrow pass: the same
exchange budget as a global sort, with no single-reducer stage anywhere.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from docling_spark.ops import portable as P


def sequence_pack(docs: DataFrame, seq_len: int = 2048, sep_tokens: int = 1,
                  id_col: str = "doc_id", text_col: str = "text",
                  n_parts: int | None = None) -> DataFrame:
    """Per-document placement in the packed token stream.

    Returns (doc_id, n_tokens, start_pos, first_seq, last_seq,
    n_seqs_spanned, offset_in_first): the document's tokens occupy
    [start_pos, start_pos + n_tokens) in the concatenated stream (doc_id
    ascending, `sep_tokens` separator tokens appended after every doc);
    sequences are the consecutive `seq_len`-token windows of that stream."""
    spark = docs.sparkSession
    counted = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.size(F.expr(P.tokens_spark(text_col))) ).cast("long").alias("n_tokens"),
    )
    parts = n_parts or counted.rdd.getNumPartitions() or 8
    ranged = (
        counted.repartitionByRange(parts, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
    )

    # one partition = one contiguous doc_id range; emit the inclusive local
    # cumsum of the slot width (n_tokens + sep) plus the partition's FIRST
    # doc_id as its key (stable across retries, unlike spark_partition_id)
    def local_scan_sep(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [b for b in batches]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values("doc_id").reset_index(drop=True)
        slot = rows["n_tokens"] + sep_tokens
        rows["local_cum"] = slot.cumsum()          # inclusive, within partition
        rows["part_key"] = rows["doc_id"].iloc[0]  # contiguous-range identifier
        yield rows

    scanned = ranged.mapInPandas(
        local_scan_sep,
        schema="doc_id long, n_tokens long, local_cum long, part_key long",
    ).localCheckpoint(eager=False)  # phase 3 + the join both read it; scan once

    # phase 3: one bounded row per partition → base offsets (driver-side,
    # parameter-sized — the same class of collect as k-means sampling)
    totals = (
        scanned.groupBy("part_key")
        .agg(F.max("local_cum").alias("part_total"))
        .collect()
    )
    base = 0
    offsets = {}
    for r in sorted(totals, key=lambda r: r["part_key"]):
        offsets[r["part_key"]] = base
        base += r["part_total"]
    # from Arrow, so the broadcast side plans as a local relation
    off_df = F.broadcast(spark.createDataFrame(pa.table({
        "part_key": pa.array(list(offsets), pa.int64()),
        "base": pa.array(list(offsets.values()), pa.int64()),
    })))

    start = F.col("base") + F.col("local_cum") - F.col("n_tokens") - F.lit(sep_tokens)
    # sequence indices via integer DIV, not floor(double /): IEEE division
    # loses exactness above 2^53 token offsets, which a 10^12-doc packed
    # stream actually reaches; DIV stays exact over the full long range.
    last_token = start + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return (
        scanned.join(off_df, "part_key")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_pos"),
            last_token.alias("_last_token"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "start_pos",
            F.expr(f"start_pos DIV {seq_len}").cast("long").alias("first_seq"),
            F.expr(f"_last_token DIV {seq_len}").cast("long").alias("last_seq"),
            (F.expr(f"_last_token DIV {seq_len}") - F.expr(f"start_pos DIV {seq_len}") + 1)
            .cast("long").alias("n_seqs_spanned"),
            (F.col("start_pos") % seq_len).cast("long").alias("offset_in_first"),
        )
    )
