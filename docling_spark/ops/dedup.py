"""Deduplication operators for large-scale training-data pipelines.

Joins, groupings and bitwise work are JVM-side built-ins. The per-element
hashing of the SQL forms is not compiled: Spark's higher-order functions
(`transform`, `aggregate`) are `CodegenFallback`, so their lambdas run
interpreted, once per element. The MinHash signature therefore hashes in
numpy (`portable.minhash_numpy`) inside one Arrow map; the other ops below
still hash through those lambdas.
- exact: hash-groupBy (one shuffle on the hash, AQE-coalesced)
- minhash LSH: shingle → minhash signature (numpy, `docmap.map_batches`) →
  band → bucket self-join (the classic Broder/LSH construction; the band
  join is an equi-join so Catalyst uses a shuffled hash join, and bucket
  keys distribute ~uniformly so no skew salting needed)
- simhash: bitwise majority over token hashes
- n-gram Jaccard: blocked self-join + array_intersect/array_union
- connected components over a pair list: driver union-find up to
  `_DRIVER_MAX_PAIRS` pairs (result handed back as an Arrow local relation),
  large-star/small-star contraction on Spark above it

At 100 TB: exact dedup shuffles only (hash, length) pairs — project before
grouping. MinHash shuffles signatures (16×8 bytes/doc), not text. Verify-join
pulls full shingle arrays only for candidate pairs (tiny fraction).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from docling_spark.docmap import arrow_schema, filter_below, map_batches
from docling_spark.ops import portable as P

# Default LSH geometry, shared with the DuckDB oracles. MinHash runs over
# word n-gram SHINGLES (MINHASH_SHINGLE_N) — the same feature set the verify
# join compares — so banding selectivity tracks true similarity. (Round 1
# minhashed unigram token sets while verifying 3-gram Jaccard: on a
# self-similar corpus unigram sets overlap heavily, so 4×4 banding admitted
# 54% of all pairs as candidates — a parameter-level scale-killer. With
# shingle features the same 4×4 geometry (threshold ≈ (1/b)^(1/r) ≈ 0.71)
# admits 0.02%.) Use `minhash_candidate_stats` to check the ratio on YOUR
# corpus before a production run.
MINHASH_N_HASHES = 16
MINHASH_BAND_SIZE = 4
MINHASH_SHINGLE_N = 3


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(text_hash, dup_count) per distinct text — dup_count > 1 means exact
    duplicates. Only the hash is shuffled, never the text."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").cast("long").alias("dup_count"))
    )


def minhash_signature(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      n_hashes: int = MINHASH_N_HASHES,
                      shingle_n: int = MINHASH_SHINGLE_N) -> DataFrame:
    """(doc_id, mh_0..mh_{n-1}) portable minhash signature over word n-gram
    shingles (shingle_n=1 degenerates to unigram token sets); null `mh_*` for
    a null text or one with fewer than `shingle_n` tokens. The id column
    keeps its input type.

    Computed in numpy (`portable.minhash_numpy`, value-identical to the SQL
    form) in one `docmap.map_batches` stage, so it runs in the same Python
    worker as a span map that produced `docs` (`markdown_sink`). The SQL
    form's lambdas are `CodegenFallback`: Spark runs them interpreted, once
    per character and per shingle."""
    out_schema = StructType(
        [StructField(id_col, docs.schema[id_col].dataType)]
        + [StructField(f"mh_{i}", LongType()) for i in range(n_hashes)])
    arrow_out = arrow_schema(out_schema)

    def batch(rb: pa.RecordBatch) -> pa.RecordBatch:
        names = rb.schema.names
        mins, has = P.minhash_numpy(rb.column(names.index(text_col)), n_hashes, shingle_n)
        mh = [pa.array(m, pa.int64(), mask=~has) for m in mins]
        return pa.RecordBatch.from_arrays([rb.column(names.index(id_col))] + mh,
                                          schema=arrow_out)

    if set(docs.columns) != {id_col, text_col}:
        docs = docs.select(id_col, text_col)  # ship only what the map reads
    return map_batches(docs, batch, out_schema)


def minhash_band_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_hashes: int = MINHASH_N_HASHES,
                       band_size: int = MINHASH_BAND_SIZE,
                       shingle_n: int = MINHASH_SHINGLE_N) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that collide in ≥1 LSH band.

    bands of `band_size` rows: docs agreeing on ALL rows of any band become
    candidates — an equi-self-join on (band_id, band_key). Documents too
    short to yield a shingle (and null texts) get a null signature, which
    would otherwise cross-match as an empty band key; they are dropped by
    `mh_0 IS NOT NULL` on the signature, without tokenizing the text again.

    The banded keys are localCheckpointed before the self-join: Spark has
    no subplan reuse, so both join sides would otherwise recompute the
    shingle/signature pipeline — the standard production shape writes the
    signature table once and joins it, and the eager checkpoint is the
    in-query equivalent (~2x on the pair queries)."""
    sig = minhash_signature(docs, id_col, text_col, n_hashes, shingle_n)
    sig = sig.filter(F.col("mh_0").isNotNull())
    n_bands = n_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        key = F.concat_ws(
            ":", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
        )
        band_cols.append(F.struct(F.lit(b).alias("band_id"), key.alias("band_key")))
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_key").localCheckpoint()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_candidate_stats(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            n_hashes: int = MINHASH_N_HASHES,
                            band_size: int = MINHASH_BAND_SIZE,
                            shingle_n: int = MINHASH_SHINGLE_N) -> DataFrame:
    """One-row selectivity report for the current band geometry:
    (n_docs, n_candidate_pairs, possible_pairs, candidate_ratio_e6).

    The candidate ratio is THE scale health metric for LSH dedup — if a
    meaningful fraction of all pairs collide, the verify join degenerates
    toward all-pairs regardless of plan shape. Emit this alongside any
    production run; re-tune (n_hashes, band_size) when ratio_e6 creeps up."""
    cand = minhash_band_pairs(docs, id_col, text_col, n_hashes, band_size, shingle_n)
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidate_pairs"))
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    possible = F.col("n_docs") * (F.col("n_docs") - 1) / 2
    return n_docs.crossJoin(n_cand).select(
        "n_docs",
        "n_candidate_pairs",
        possible.cast("long").alias("possible_pairs"),
        F.floor(F.col("n_candidate_pairs") * 1_000_000 / possible)
        .cast("long")
        .alias("candidate_ratio_e6"),
    )


def simhash_neardup_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", bits: int = 64,
                          max_hamming: int = 3) -> DataFrame:
    """(id_a, id_b, hamming) pairs with simhash hamming distance ≤
    `max_hamming`, found WITHOUT an all-pairs compare.

    Pigeonhole blocking (the Manku/Jain/Sarma WWW'07 construction): split
    the `bits`-bit fingerprint into `max_hamming + 1` contiguous blocks —
    any pair within distance k agrees on ≥1 whole block — explode per
    block, equi-join on (block_id, block_value), verify exact hamming via
    bit_count(xor). The block join is the same shuffle shape as the
    minhash band join; candidates ≈ N²/2^(bits/(k+1)) per block at random.

    Default geometry is the paper's: 64-bit fingerprint, k=3 → four 16-bit
    blocks → expected random collisions ≈ N²/2¹⁶ per block. (A 32-bit
    fingerprint at k=3 gives 8-bit blocks → N²/2⁸ — quadratic blow-up at
    10⁹ docs; keep `bits=64` in production.) Block values are extracted
    with an unsigned shift + mask so the sign bit (bit 63) of the packed
    fingerprint is handled like any other bit.

    `bits=128` switches to the two-long fingerprint (`simhash128`) with
    32-bit blocks at k=3 — the width knob the sf1 scale-step instrument
    recommends for low-entropy corpora (collision ratio ∝ 1/2^(bits/(k+1)))."""
    sig, vcols = _simhash_sig(docs, id_col, text_col, bits)
    return hamming_pairs(sig, id_col, vcols, bits, max_hamming)


def _simhash_sig(docs: DataFrame, id_col: str, text_col: str, bits: int):
    """(fingerprint frame, its value column(s)) for `bits`: the two-long
    `simhash128` at 128, else the one-long `simhash`."""
    if bits == 128:
        return simhash128(docs, id_col, text_col), ["simhash_lo", "simhash_hi"]
    return simhash(docs, id_col, text_col, bits), "simhash"


def simhash_block_stats(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", bits: int = 64,
                        max_hamming: int = 3) -> DataFrame:
    """One-row selectivity report for the pigeonhole block join — the
    simhash counterpart of `minhash_candidate_stats`:
    (n_docs, n_block_candidate_pairs, n_verified_pairs, possible_pairs,
    block_candidates_per_doc_e3, block_collision_ratio_e9).

    `n_block_candidate_pairs` counts distinct pairs agreeing on ≥1 block
    BEFORE the bit_count verify — the population the verify join must scan.
    Expected ≈ true-pairs + C(N,2)·(k+1)/2^(bits/(k+1)) random collisions;
    candidates-per-doc is the scale invariant to watch (it stays flat when
    the dup rate is constant and random collisions stay sub-dominant),
    while the ratio vs all pairs falls ~1/N in a healthy corpus. A
    candidates-per-doc figure that grows with N means the fingerprint is
    too narrow for the corpus size — widen `bits` before scaling up."""
    sig, vcols = _simhash_sig(docs, id_col, text_col, bits)
    cand = hamming_pairs(sig, id_col, vcols, bits, max_hamming, verify=False)
    n_cand = cand.agg(F.count("*").cast("long").alias("n_block_candidate_pairs"))
    n_ver = (
        cand.filter(F.col("hamming") <= max_hamming)
        .agg(F.count("*").cast("long").alias("n_verified_pairs"))
    )
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    possible = F.col("n_docs") * (F.col("n_docs") - 1) / 2
    return n_docs.crossJoin(n_cand).crossJoin(n_ver).select(
        "n_docs",
        "n_block_candidate_pairs",
        "n_verified_pairs",
        possible.cast("long").alias("possible_pairs"),
        F.floor(F.col("n_block_candidate_pairs") * 1_000 / F.col("n_docs"))
        .cast("long").alias("block_candidates_per_doc_e3"),
        F.floor(F.col("n_block_candidate_pairs") * 1_000_000_000 / possible)
        .cast("long").alias("block_collision_ratio_e9"),
    )


def hamming_pairs(sig: DataFrame, id_col: str, value_col,
                  bits: int = 64, max_hamming: int = 3,
                  verify: bool = True) -> DataFrame:
    """The pigeonhole hamming search over ANY (id, fingerprint) relation —
    shared by simhash text near-dup and perceptual image-hash near-dup
    (ops.multimodal.image_neardup_pairs). See simhash_neardup_pairs for the
    construction and geometry math. `verify=False` returns every distinct
    block-collision candidate with its exact hamming distance UNfiltered —
    the pre-verify population `simhash_block_stats` monitors.

    `value_col` may be a LIST of long columns for fingerprints wider than
    one BIGINT (the 128-bit simhash passes ["simhash_lo", "simhash_hi"];
    global bit j lives in column j // 64); a single column may hold fewer
    than 64 bits (`simhash(bits=32)`). Blocks must not straddle column
    boundaries — at k=3 that means bits divisible by 4 longs-aligned
    widths (64→16-bit, 128→32-bit blocks both are)."""
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    if len(value_cols) == 1:
        assert 0 < bits <= 64, "a one-long fingerprint has at most 64 bits"
    else:
        assert bits == 64 * len(value_cols), "bits must match 64 × fingerprint longs"
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    blocks = []
    for b in range(n_blocks):
        lo = b * width
        w = width if b < n_blocks - 1 else bits - lo  # last takes remainder
        ci, sh = lo // 64, lo % 64
        assert sh + w <= 64, "pigeonhole block straddles a fingerprint long"
        val = F.expr(f"shiftrightunsigned({value_cols[ci]}, {sh}) & {(1 << w) - 1}L")
        blocks.append(F.struct(F.lit(b).alias("block_id"), val.alias("block_val")))
    # Spark has no subplan reuse: both self-join sides would recompute the
    # fingerprint sub-plan. Materializing the block keys (8 bytes ×
    # n_blocks/doc) is the in-query form of the production
    # write-fingerprints-once shape — same as the minhash band keys.
    keyed = sig.select(
        F.col(id_col), *[F.col(c) for c in value_cols],
        F.explode(F.array(*blocks)).alias("blk"),
    ).select(id_col, *value_cols, "blk.block_id", "blk.block_val").localCheckpoint()
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.expr(
        " + ".join(f"bit_count(a.{c} ^ b.{c})" for c in value_cols)
    )
    out = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
    )
    if verify:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out.distinct()


def shared_window_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", window: int = 20,
                        max_df: int | None = None) -> DataFrame:
    """(id_a, id_b, n_shared_windows) — documents sharing ≥1 exact
    `window`-token span, the substring-duplication signal of the dedup
    literature (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22 — exact substring matching; re-expressed as a
    window-hash equi-join instead of a suffix array: at 100 TB only the
    8-byte window hashes shuffle, never text, and the join key distributes
    uniformly).

    `max_df` is the boilerplate guard: a window shared by more than max_df
    documents (license headers, navigation chrome) is dropped BEFORE the
    self-join — a single grouped count whose output re-joins by hash — so
    one viral window can never drive the pair count quadratic."""
    wh = (
        docs.select(F.col(id_col), F.expr(P.tokens_spark(text_col)).alias("_tk"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"slice(sequence(1, size(_tk)), 1, greatest(size(_tk) - {window - 1}, 0)), "
                    f"i -> {P.token_hash_spark(f'array_join(slice(_tk, i, {window}), chr(32))')}))"
                )
            ).alias("wh"),
        )
    )
    if max_df is not None:
        keep = (
            wh.groupBy("wh")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("wh")
        )
        wh = wh.join(keep, "wh", "left_semi")
    a, b = wh.alias("a"), wh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.wh") == F.col("b.wh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared_windows"))
    )


# Pair lists at or under this many rows are collected to the driver for
# union-find: at 2M pairs over 1M ids the driver's Python memory grew by
# about 450 MB (4-core VM) — the same bounded-collect discipline as the
# k-means training samples. Above it the star contraction runs on Spark.
_DRIVER_MAX_PAIRS = 2_000_000
# Round budget of the star contraction; it needs O(log n) rounds on any shape.
_MAX_ROUNDS = 50


def dup_components(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """Connected components over a duplicate-pair edge list →
    (doc_id, component_id) where component_id = min doc_id in the group.

    The pair list is localCheckpointed once (the upstream miners run once),
    then at most `_DRIVER_MAX_PAIRS + 1` rows are collected as two Arrow id
    columns; that row count picks the path, with no separate count job.
    At or under the bound the components come from a DRIVER union-find: the
    pair list is the already-reduced output of the dedup miners, and a
    multi-round Spark join loop on a few hundred thousand edges pays tens
    of scheduling round-trips for work a union-find finishes in
    milliseconds. The result goes back to Spark as an Arrow table, a local
    relation whose size the planner knows, so a join against it broadcasts.
    Above the bound (the true 100-TB regime) the large-star/small-star
    contraction runs on Spark (`_dup_components_star`); a graph it cannot
    contract in `_MAX_ROUNDS` rounds raises rather than return over-split
    labels."""
    pairs = pairs.localCheckpoint()  # compute the upstream miners once
    ids = pairs.select(id_a, id_b).limit(_DRIVER_MAX_PAIRS + 1).toArrow()
    if ids.num_rows <= _DRIVER_MAX_PAIRS:
        return _dup_components_driver(pairs.sparkSession, ids)
    return _dup_components_star(pairs, id_a, id_b)


def _dup_components_driver(spark, ids) -> DataFrame:
    """Union-find over the collected two-column Arrow pair table; exact same
    output contract as the star path: component_id = min node id, typed
    like the first id column."""
    col_a, col_b = ids.column(0).to_pylist(), ids.column(1).to_pylist()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(col_a, col_b):
        a, b = find(x), find(y)
        if a != b:
            parent[max(a, b)] = min(a, b)  # min-id root ⇒ min-id component
    nodes = sorted(set(col_a) | set(col_b))
    id_type = ids.schema.field(0).type
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array(nodes, id_type),
        "component_id": pa.array([find(n) for n in nodes], id_type),
    }))


def _dup_components_star(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris SoCC'14 §3).

    Invariants per round: large-star hangs every strictly-larger neighbor
    of u onto m = min(Γ(u) ∪ {u}) — the emitted edges all point big→small;
    small-star then re-hangs u and its smaller neighbors onto the local
    min. At the fixpoint every node has exactly one outgoing edge to its
    component minimum (a star), so labels read directly off the edge list.
    Convergence in O(log n) rounds regardless of diameter; the fixpoint
    check is a (count, xor-of-hashes) checksum — two cheap aggregates, no
    full edge-set diff."""
    e0 = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    directed = e0.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct().localCheckpoint()

    def _checksum(df: DataFrame) -> tuple:
        # bit_xor is order-insensitive and cannot overflow (edges are
        # distinct, so xor-cancellation of duplicates is not a concern)
        row = df.select(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(directed)
    for _ in range(_MAX_ROUNDS):
        sym = directed.union(directed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the directed big→small output: mn(u) = min(N(u) ∪ {u});
        # re-hang u and all its (smaller) neighbors onto mn
        mn = large.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mn"))
        with_m = large.join(mn, "u")
        small = (
            with_m.select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(mn.select(F.col("u"), F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        directed = small
        cur = _checksum(directed)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components did not reach a fixpoint in {_MAX_ROUNDS} "
            f"star-contraction rounds — labels would be over-split."
        )
    # at the fixpoint `directed` is a star forest: node → component min;
    # component minima have no outgoing edge and label themselves
    return nodes.join(
        directed.select(F.col("u").alias("node"), F.col("v").alias("root")),
        "node", "left",
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("root"), F.col("node")).alias("component_id"),
    )


def neardup_curation(docs: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id", id_a: str = "id_a",
                     id_b: str = "id_b",
                     algorithm: str = "auto") -> DataFrame:
    """Near-duplicate removal: given a verified near-dup pair list, keep ONE
    representative (the min id) per duplicate group plus every unpaired doc
    — the keep-first policy of exact dedup extended to fuzzy groups (the
    standard LLM-corpus curation step after MinHash verify; cf. Lee et al.
    ACL'22 §4: one document retained per duplicate cluster).

    Shape at scale: connected components over the pair list (tiny relative
    to the corpus), then one left ANTI-join of the corpus against the
    non-representative members. Under `dup_components`' driver bound the
    components are a local relation of known size, so the loser side is
    broadcast and the corpus is not shuffled at all. When `docs` is an
    unpersisted per-document map chain (`enrich(read)`) keyed by `doc_id`,
    the anti-join sits below the chain's maps (`docmap.filter_below`): the
    losers are never mapped, and a later map (the chunker) chains on, so the
    whole job is one Python map. `algorithm` accepts only "auto" and is kept
    for existing callers. Returns the curated frame with the input columns,
    `id_col` first as a USING join puts it."""
    if algorithm != "auto":
        raise ValueError(f'algorithm must be "auto", got {algorithm!r}')
    comps = dup_components(pairs, id_a=id_a, id_b=id_b)
    losers = comps.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )

    def anti(df: DataFrame) -> DataFrame:
        return df.join(losers, id_col, "left_anti")

    kept = None
    # the chain keeps its own column order, which is the join's only when
    # the id already leads
    if id_col == "doc_id" and docs.columns[0] == id_col:
        kept = filter_below(docs, anti)
    return anti(docs) if kept is None else kept


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.0,
                        block_col: str | None = None) -> DataFrame:
    """(id_a, id_b, jaccard) over word n-gram shingle sets.

    `block_col` bounds the self-join (only pairs sharing the blocking key are
    compared) — at scale use a cheap blocking key (length bucket, lang,
    minhash band) to avoid the quadratic blowup."""
    sh = docs.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.expr(P.tokens_spark(text_col)).alias("_tk"),
    ).select(
        id_col,
        *([block_col] if block_col else []),
        F.expr(P.ngrams_from_tokens_spark("_tk", n)).alias("shingles"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """(doc_id, simhash) — bit-majority fingerprint over token hashes.

    Default is the 64-bit fingerprint of Manku/Jain/Sarma (WWW'07), the
    geometry `simhash_neardup_pairs` blocks on. The polynomial token hash
    has only ~30 live bits (mod 1e9+7), so each token is first expanded to
    a full 64-bit value via four universal-hash limbs
    (`portable.simhash_ext_spark`) — materialized ONCE per token as a
    column, then each bit's majority vote is a cheap mask-test fold (no
    per-bit rehash). An explode + 64-conditional-sum aggregate was
    A/B-measured SLOWER (1.04 s vs 0.60 s at the bench geometry — the
    exploded rows cost more than the interpreted folds save), so the
    fold form stays. Bit 63 rides the sign bit (two's complement), which
    both engines' BIGINT share, so the packed value stays oracle-exact."""
    ext = P.simhash_ext_spark("h")
    d = docs.select(
        F.col(id_col),
        F.expr(f"transform({P.token_hashes_spark(text_col)}, h -> {ext})").alias("_eh"),
    )
    return d.select(F.col(id_col), _simhash_fold("_eh", bits).alias("simhash"))


def _simhash_fold(eh_col: str, bits: int = 64) -> F.Column:
    """The bit-majority fold over an array of extended token hashes: bit j
    is set when more tokens have it set than not."""
    terms = []
    for j in range(bits):
        mask_lit = P.simhash_bit_mask_lit(j)
        # vote for bit j: +1 if set in the extended token hash, -1 otherwise
        vote = F.expr(
            f"aggregate({eh_col}, 0L, (acc, h) -> acc + "
            f"(CASE WHEN (h & {mask_lit}) != 0 THEN 1 ELSE -1 END))"
        )
        terms.append(
            F.when(vote > 0, F.lit(P.simhash_bit_mask(j))).otherwise(F.lit(0))
        )
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total.cast("long")


def simhash128(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, simhash_lo, simhash_hi) — the 128-bit fingerprint as two
    longs: two independent 64-bit bit-majority votes over two independent
    universal-hash limb families (portable fam 0 / fam 1), i.e. one
    128-bit simhash of the concatenated hash (h₀(t), h₁(t)).

    Why it exists: the r4 sf1 scale-step instrument showed the 64-bit
    fingerprint saturating on low-entropy corpora (block collision ratio
    constant in N instead of falling) — the fix the instrument named is a
    wider fingerprint. 128 bits at k=3 gives 32-bit pigeonhole blocks:
    expected random collisions fall from N²/2¹⁶ to N²/2³² per block —
    ~65,000× fewer at equal N. Same per-token work shape (two extended
    hashes instead of one), same block equi-join."""
    ext0 = P.simhash_ext_spark("h", fam=0)
    ext1 = P.simhash_ext_spark("h", fam=1)
    # tokenize + hash once; both limb families extend the same hash array
    d = docs.select(
        F.col(id_col), F.expr(P.token_hashes_spark(text_col)).alias("_th")
    ).select(
        F.col(id_col),
        F.expr(f"transform(_th, h -> {ext0})").alias("_eh0"),
        F.expr(f"transform(_th, h -> {ext1})").alias("_eh1"),
    )
    return d.select(
        F.col(id_col), _simhash_fold("_eh0").alias("simhash_lo"),
        _simhash_fold("_eh1").alias("simhash_hi"),
    )


def remove_duplicate_substrings(docs: DataFrame, window: int = 10,
                                min_df: int = 2, max_df: int | None = None,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """The actual fix of Lee et al. ACL'22 §4 (ExactSubstr): REMOVE every
    token covered by a `window`-token span that occurs in ≥ `min_df`
    documents, keep the documents. Returns
    (doc_id, text_dedup, n_tokens_removed) — text re-joined with single
    spaces (whitespace-normalized, like every tokenized path here).

    Construction (suffix-array-free): explode (doc, start, window-hash)
    occurrences → document-frequency per hash (one grouped distinct count —
    only 8-byte hashes shuffle) → flagged hashes semi-join back to per-doc
    start offsets → per-doc coverage mask evaluated as an array filter
    (token kept iff no flagged window starts within the preceding
    window-1 positions). `max_df` optionally exempts ultra-viral windows
    from REMOVAL (when boilerplate is handled by a separate filter and
    removal should target true duplication only).

    Scale shape: two narrow passes + one hash-keyed aggregate + one
    broadcastable semi-join; per-doc masking is O(tokens × flagged-starts)
    — flagged starts per doc are few by construction (they are the
    duplicated runs)."""
    hash_win = P.token_hash_spark(f"array_join(slice(_tk, i, {window}), chr(32))")
    toks = docs.select(
        F.col(id_col), F.expr(P.tokens_spark(text_col)).alias("_tk")
    )
    occ = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(slice(sequence(1, size(_tk)), 1, "
                f"greatest(size(_tk) - {window - 1}, 0)), "
                f"i -> struct(i AS i, {hash_win} AS wh))"
            )
        ).alias("o"),
    ).select(id_col, F.col("o.i").alias("i"), F.col("o.wh").alias("wh"))
    df_counts = (
        occ.select("wh", id_col).distinct()
        .groupBy("wh").agg(F.count("*").alias("_df"))
    )
    flagged = df_counts.filter(F.col("_df") >= min_df)
    if max_df is not None:
        flagged = flagged.filter(F.col("_df") <= max_df)
    starts = (
        occ.join(flagged.select("wh"), "wh", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("i")).alias("_ss"))
    )
    joined = toks.join(starts, id_col, "left").withColumn(
        "_ss", F.coalesce(F.col("_ss"), F.expr("CAST(array() AS array<int>)"))
    )
    # Same descending-sequence guard as ngrams_from_tokens_spark
    # (portable.py): sequence(1, 0) yields [1, 0] and element_at(_tk, 0)
    # throws, so clamp the index range through slice() for empty token
    # arrays (reachable if a future tokenizer drops blank tokens).
    kept = (
        f"filter(slice(sequence(1, greatest(size(_tk), 1)), 1, size(_tk)), t -> "
        f"NOT exists(_ss, s -> s <= t AND t < s + {window}))"
    )
    return joined.select(
        F.col(id_col),
        F.expr(
            f"array_join(transform({kept}, t -> element_at(_tk, t)), ' ')"
        ).alias("text_dedup"),
        F.expr(f"size(_tk) - size({kept})").cast("long").alias("n_tokens_removed"),
    )
