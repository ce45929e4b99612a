"""Structured Streaming form of the extraction pipeline.

The reference is a batch CLI (no streaming — SURVEY.md §2.10), and the
north_rule's resumability is met by batch checkpointing (checkpoint.py). This
module additionally re-expresses the same pipeline as a stream for
continuous-ingest deployments: `readStream` over the documents directory →
the identical mapInArrow extraction → `writeStream` with
`Trigger.AvailableNow` (drain-everything-then-stop) or continuous
micro-batches. Spark's streaming checkpoint gives exactly-once file output,
replacing the bucket ledger in this mode.

The transformation is THE SAME function (`pipeline.extract`) — batch/stream
parity by construction.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from docling_spark.pipeline import extract
from docling_spark.schema import DOC_SCHEMA


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming exact dedup: first-seen-wins across micro-batches.

    Custom stateful operator via `applyInPandasWithState`: the stream is
    keyed by content hash; per key a one-bit state records whether the hash
    was already emitted, so re-ingested duplicates are dropped across
    micro-batch (and restart) boundaries — the streaming form of
    ops.dedup.exact_dup_groups. State is O(1) per distinct document, and the
    shuffle key is the hash (never the text), same as the batch operator."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = (
        spark.readStream.schema(DOC_SCHEMA)
        .parquet(input_dir)
        .withColumn("text_hash", F.md5(F.expr("array_join(transform(spans, s -> s.text), '\\n')")))
    )

    def first_seen(key, pdf_iter, state: GroupState):
        if state.exists:
            return  # hash already emitted in an earlier batch — drop all
        first = None
        for pdf in pdf_iter:
            if len(pdf) and first is None:
                first = pdf.iloc[[0]][["text_hash", "doc_id"]]
        if first is not None:
            state.update((True,))
            yield first

    out = (
        src.select("text_hash", "doc_id")
        .groupBy("text_hash")
        .applyInPandasWithState(
            first_seen,
            outputStructType="text_hash string, doc_id string",
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_metrics(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Watermarked windowed extraction metrics: spans/doc counts per
    1-minute ingest window, tolerating 2 minutes of late arrivals — the
    streaming form of the S9 metrics rollup. Late data beyond the watermark
    is dropped by Spark's state eviction, bounding state size for a forever
    stream."""
    from pyspark.sql import functions as F

    from docling_spark.schema import DOC_DDL

    src = (
        spark.readStream.schema(DOC_DDL + ", ingest_ts timestamp")
        .parquet(input_dir)
    )
    agg = (
        src.withWatermark("ingest_ts", "2 minutes")
        .groupBy(F.window("ingest_ts", "1 minute").alias("w"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_docs",
            "n_spans",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
):
    """Start the streaming extraction; returns the StreamingQuery.

    `available_now=True` processes the current backlog and stops (the batch-
    equivalent mode used in tests); False tails the directory forever.
    """
    src = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    normalized = extract(src)
    writer = (
        normalized.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_neardup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    est_jaccard_min: float = 0.7,
    state_ttl_minutes: "int | None" = 60,
    max_bucket_size: "int | None" = 256,
):
    """Streaming MinHash near-dup detection — the continuous-ingest form of
    ops.dedup.minhash_band_pairs: as documents arrive, each is checked
    against everything previously ingested that shares an LSH band, across
    micro-batch and restart boundaries.

    Mechanics: each arriving doc fans out to its (band_id, band_key) rows
    (same geometry as the batch operator — 16 hashes, 4 bands of 4); the
    stream is keyed by band key and `applyInPandasWithState` holds, per
    bucket, the (doc_id, 16-value signature) list of prior members. An
    arrival emits one row per stored member whose SIGNATURE-ESTIMATED
    jaccard (fraction of agreeing minhash rows — the unbiased LSH
    estimator) clears `est_jaccard_min`, then appends itself to the state.

    Deliberate batch/stream difference: the batch verify join re-reads both
    documents' shingle sets for the EXACT jaccard; a forever stream cannot
    re-read old documents, so the streaming form verifies on the stored
    signatures instead (estimator variance 1/√16 per pair). Downstream
    consumers `distinct()` the (id_a, id_b) pairs — a pair colliding in two
    bands is emitted per band, same as the batch operator pre-distinct.

    State: 16×8 bytes + id per stored doc per band — ~70 bytes/doc/band.
    State is bounded BY DEFAULT, on two axes (a forever stream must not
    grow state without bound):
      * `state_ttl_minutes` (default 60) evicts idle buckets wholesale
        (GroupStateTimeout.ProcessingTimeTimeout) — dedup then only looks
        back that window, the standard bounded-state trade. Pass None to
        keep buckets forever (finite replays / tests).
      * `max_bucket_size` (default 256) FIFO-caps each bucket's member
        list — a hot bucket (boilerplate-heavy corpora collapse many docs
        into one band key) sheds its OLDEST members first, so recent-vs-
        recent comparisons, the ones a streaming dedup is for, survive.
        Pass None to disable.
    `available_now=True` drains the backlog and stops. It runs with
    `spark.sql.streaming.noDataMicroBatches.enabled=false` for this query
    only: with a TTL, Spark otherwise keeps planning no-data micro-batches
    to time buckets out, and the query never ends. Idle buckets are then
    evicted only by the data batches, which still time out every bucket
    past its TTL. A continuous run (`available_now=False`) keeps the
    session's setting, so its buckets time out between arrivals as well.
    Evicted-entry count is surfaced as a Spark accumulator on the returned
    query object (`q.neardup_evictions.value`), the operator's health
    metric: a climbing value means the corpus is hotter than the cap."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from docling_spark.ops.dedup import (
        MINHASH_BAND_SIZE, MINHASH_N_HASHES, minhash_signature)

    n_hashes, band_size = MINHASH_N_HASHES, MINHASH_BAND_SIZE
    n_bands = n_hashes // band_size

    src = spark.readStream.schema("doc_id long, text string").parquet(input_dir)
    sig = minhash_signature(src).filter(F.col("mh_0").isNotNull())
    band_cols = []
    for b in range(n_bands):
        key = F.concat_ws(
            ":", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
        )
        band_cols.append(F.struct(
            F.concat_ws("|", F.lit(b), key).alias("bucket"),
        ))
    banded = sig.select(
        "doc_id",
        F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]).alias("sig"),
        F.explode(F.array(*band_cols)).alias("band"),
    ).select("doc_id", "sig", "band.bucket")

    min_agree = est_jaccard_min  # fraction of the n_hashes rows
    eviction_acc = spark.sparkContext.accumulator(0)

    def match_bucket(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:  # idle-bucket eviction (TTL mode)
            state.remove()
            return
        stored_ids, stored_sigs = ([], []) if not state.exists else (
            list(state.get[0]), [list(s) for s in state.get[1]]
        )
        out_rows = []
        arrivals = []
        for pdf in pdf_iter:
            for r in pdf.itertuples(index=False):
                arrivals.append((int(r.doc_id), [int(x) for x in r.sig]))
        arrivals.sort()  # deterministic within-batch order
        for doc_id, s in arrivals:
            seen_before = False
            for idx, (old_id, old_s) in enumerate(zip(stored_ids, stored_sigs)):
                if old_id == doc_id:
                    # reprocessed arrival: refresh the stored signature in
                    # place — never append a second copy, or replayed
                    # inputs grow state per bucket without bound
                    stored_sigs[idx] = s
                    seen_before = True
                    continue
                agree = sum(a == b for a, b in zip(s, old_s)) / len(s)
                if agree >= min_agree:
                    a, b = sorted((old_id, doc_id))
                    out_rows.append((a, b, int(agree * 1_000_000)))
            if not seen_before:
                stored_ids.append(doc_id)
                stored_sigs.append(s)
        if max_bucket_size is not None and len(stored_ids) > max_bucket_size:
            n_evict = len(stored_ids) - max_bucket_size
            stored_ids = stored_ids[n_evict:]   # FIFO: oldest out first
            stored_sigs = stored_sigs[n_evict:]
            eviction_acc.add(n_evict)
        state.update((stored_ids, stored_sigs))
        if state_ttl_minutes is not None:
            state.setTimeoutDuration(state_ttl_minutes * 60_000)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=["id_a", "id_b", "est_jaccard_e6"])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_minutes is not None else GroupStateTimeout.NoTimeout)
    out = banded.groupBy("bucket").applyInPandasWithState(
        match_bucket,
        outputStructType="id_a long, id_b long, est_jaccard_e6 long",
        stateStructType="ids array<long>, sigs array<array<long>>",
        outputMode="append",
        timeoutConf=timeout,
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if not available_now:
        q = writer.start()
    else:
        # The query copies the session's conf when it starts; put the
        # caller's own setting back once it has.
        key = "spark.sql.streaming.noDataMicroBatches.enabled"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            q = writer.trigger(availableNow=True).start()
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    q.neardup_evictions = eviction_acc  # health metric: entries FIFO-shed
    return q
