"""One Arrow map for every per-row Python stage.

This module owns the Arrow boundary for all of the engine's per-row Python
work: the stages that consume spans and the spans-free ones (media decoders,
code chunks, Azure layout, DocTags parsing) alike.

`map_documents(df, fn, schema)` runs `fn(doc_id, spans)` once per document
inside a single narrow `mapInArrow` stage. This module is the only code that
knows how spans cross the Arrow boundary:

- **Input.** The span struct's children convert to Python lists once per
  batch (`to_numpy(...).tolist()`: `Array.to_pylist()` builds one Arrow
  scalar per element and cost more than the stages' own work). `fn` gets a
  list of `(kind, text, media_ref)` tuples, or `(kind, text, media_ref,
  flags)` when asked for the optional `fmt` column (array<string> aligned
  with spans; a shorter list pads with ""). A null `spans` value is an empty
  document.
- **Output.** `fn` returns the document's output rows as a list of tuples.
  The helper builds a batch that matches the Arrow schema of the declared
  DDL exactly. A span-array column takes, per row, a sequence of tuples
  whose first three elements are `(kind, text, media_ref)`; it is built
  from flat child lists plus list offsets, with dense `offset`s assigned.
- **Passthrough.** Declared fields beyond the width of `fn`'s rows are copied
  from the input column of the same name for each output row, so a caller's
  extra columns bind in declared order, whatever the input's column order.

`map_rows(df, fn, cols, schema)` is the same map for stages whose input is
not spans: `fn(*values)` runs once per input row over the named columns
(string and binary values convert per batch as above; a null is `None`) and
returns that row's output tuples, built and passed through by the same
output builder.

Per-document work stays plain Python over one document (the vectorization
axis is documents per Arrow batch); only the marshaling is columnar.

**Chaining.** `map_documents` and `map_rows` are built on `map_batches(df,
batch_fn, schema)`, which also takes batch-level functions (the numpy
MinHash). When `df` is the very DataFrame object an earlier `map_batches`
returned, the new map runs the earlier map's batch functions and its own in
one `mapInArrow` over the earlier input, so `enrich → markdown_sink →
minhash_signature` is one Python worker per task, not three. Any other
DataFrame ends the chain: `select`, `join`, `filter`, `observe` and
`localCheckpoint` return new objects, and a persisted output
(`cache()`/`persist()` return the same object) is read from its cache
instead of recomputed. Every batch function is per row or per document, so
chaining does not change the output.

**Filtering below a chain.** Every map emits each output row under its
input row's `doc_id` (enrich and the span stages do; a map that renames or
rewrites `doc_id` must not be chained under a filter). So a filter that
keeps or drops rows by `doc_id` alone commutes with the chain:
`filter_below(df, f)` applies `f` to the chain's input and runs the chain's
batch functions over what it keeps, and the result is still a chain. That
is how `neardup_curation` anti-joins its losers below `enrich`, and the
chunker then chains on: the losers are never enriched or chunked. It
applies only to an unpersisted chain whose input has a `doc_id` column.
"""

from __future__ import annotations

from typing import Callable, List, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SPAN_FIELDS = ("kind", "text", "media_ref", "offset")

DocFn = Callable[[object, List[tuple]], Sequence[tuple]]
RowFn = Callable[..., Sequence[tuple]]
BatchFn = Callable[[pa.RecordBatch], pa.RecordBatch]

# attribute a `map_batches` output DataFrame carries: (input, batch functions, schema)
_CHAIN = "_docmap_chain"


def arrow_schema(schema) -> pa.Schema:
    """Spark DDL string or StructType → the Arrow schema `mapInArrow` reads
    for it. The DDL parse needs an active Spark session, so this runs on the
    driver."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return to_arrow_schema(schema)


def _strings(arr: pa.Array) -> list:
    return arr.to_numpy(zero_copy_only=False).tolist()


def _lists(col: pa.Array) -> Tuple[pa.Array, List[int]]:
    """list<…> column → (its values in row order, row bounds); a null row is
    an empty list. Honors a sliced column's offset."""
    lengths = pc.list_value_length(col).fill_null(0).to_numpy()
    return col.flatten(), np.concatenate(([0], np.cumsum(lengths))).tolist()


def _decode(rb: pa.RecordBatch, with_fmt: bool) -> Tuple[list, List[List[tuple]]]:
    names = rb.schema.names
    doc_ids = rb.column(names.index("doc_id")).to_pylist()
    vals, bounds = _lists(rb.column(names.index("spans")))
    # StructArray.flatten merges a null struct's validity into its children
    children = dict(zip((f.name for f in vals.type), vals.flatten()))
    cols = [_strings(children[n]) for n in SPAN_FIELDS[:3]]
    if with_fmt and "fmt" in names:
        fvals, fbounds = _lists(rb.column(names.index("fmt")))
        flags = _strings(fvals)
        padded: list = []
        for i in range(len(doc_ids)):
            n = bounds[i + 1] - bounds[i]
            mine = flags[fbounds[i]: min(fbounds[i + 1], fbounds[i] + n)]
            padded += mine
            padded += [""] * (n - len(mine))
        cols.append(padded)
    spans = list(zip(*cols))
    return doc_ids, [spans[bounds[i]: bounds[i + 1]] for i in range(len(doc_ids))]


def _is_span_list(typ: pa.DataType) -> bool:
    return (
        pa.types.is_list(typ)
        and pa.types.is_struct(typ.value_type)
        and tuple(f.name for f in typ.value_type) == SPAN_FIELDS
    )


def _span_column(docs: Sequence[Sequence[tuple]], typ: pa.DataType) -> pa.Array:
    lengths = np.fromiter((len(s) for s in docs), np.int32, len(docs))
    offsets = np.zeros(len(docs) + 1, np.int32)
    np.cumsum(lengths, out=offsets[1:])
    flat = [s for spans in docs for s in spans]
    values = list(zip(*flat))[:3] if flat else [(), (), ()]
    dense = np.arange(len(flat), dtype=np.int32) - np.repeat(offsets[:-1], lengths)
    struct_t = typ.value_type
    children = [pa.array(v, struct_t[i].type) for i, v in enumerate(values)]
    children.append(pa.array(dense, struct_t[3].type))
    struct = pa.StructArray.from_arrays(children, fields=list(struct_t))
    return pa.ListArray.from_arrays(pa.array(offsets), struct, type=typ)


def _to_batch(rb: pa.RecordBatch, rows: List[tuple], row_in: List[int],
              schema: pa.Schema) -> pa.RecordBatch:
    """Output rows → one batch of `schema`. `row_in[k]` is the input row of
    output row k; fields beyond the rows' width pass through from it."""
    width = len(rows[0]) if rows else len(schema)
    columns = list(zip(*rows)) if rows else [()] * width
    names = rb.schema.names
    # one output row per input row needs no take
    take = None if row_in == list(range(rb.num_rows)) else pa.array(row_in, pa.int32())
    arrays = []
    for j, field in enumerate(schema):
        if j < width:
            typ = field.type
            arrays.append(_span_column(columns[j], typ) if _is_span_list(typ)
                          else pa.array(columns[j], typ))
            continue
        if field.name not in names:
            raise ValueError(f"schema declares {field.name!r} but the input batch has {names}")
        src = rb.column(names.index(field.name))
        arrays.append(src if take is None else src.take(take))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def map_batch(rb: pa.RecordBatch, fn: DocFn, schema: pa.Schema,
              with_fmt: bool = False) -> pa.RecordBatch:
    """One Arrow batch of documents → one batch of `schema`: `fn` per
    document, its rows stacked in document order."""
    doc_ids, docs = _decode(rb, with_fmt)
    rows: List[tuple] = []
    row_doc: List[int] = []
    for i, (doc_id, spans) in enumerate(zip(doc_ids, docs)):
        out = fn(doc_id, spans)
        rows.extend(out)
        row_doc.extend([i] * len(out))
    return _to_batch(rb, rows, row_doc, schema)


def map_batches(df, batch_fn: BatchFn, schema):
    """One `mapInArrow` that runs `batch_fn(record_batch) → record_batch of
    schema` (a DDL string or StructType) over every batch of `df`.

    When `df` is the DataFrame object an earlier `map_batches` returned, and
    it is not persisted, the new map runs the earlier map's batch functions
    and then its own in the same `mapInArrow` over the earlier input: one
    Python worker per task instead of one per map. Every batch function is
    per row, so the output is the same."""
    chain = _live_chain(df)
    src, fns = (chain[0], chain[1]) if chain is not None else (df, ())
    return _chain(src, fns + (batch_fn,), schema)


def filter_below(df, f):
    """`f` (DataFrame → DataFrame that keeps or drops rows by `doc_id`
    alone) applied below `df`'s map chain: the chain's batch functions run
    again over `f(chain input)`, and the result is still a chain. None when
    `df` is not an unpersisted `map_batches` output or its chain's input has
    no `doc_id`; the caller then applies `f` to `df` itself. Exact because
    every map emits each output row under its input row's `doc_id`."""
    chain = _live_chain(df)
    if chain is None or "doc_id" not in chain[0].columns:
        return None
    return _chain(f(chain[0]), chain[1], chain[2])


def _live_chain(df):
    """`df`'s (input, batch functions, schema) when it is an unpersisted
    `map_batches` output, else None."""
    from pyspark import StorageLevel

    chain = df.__dict__.get(_CHAIN)
    return chain if chain is not None and df.storageLevel == StorageLevel.NONE else None


def _chain(src, fns, schema):
    def gen(batches):
        for rb in batches:
            for fn in fns:
                rb = fn(rb)
            yield rb

    out = src.mapInArrow(gen, schema=schema)
    out.__dict__[_CHAIN] = (src, fns, schema)
    return out


def map_documents(df, fn: DocFn, schema: str, with_fmt: bool = False):
    """documents(doc_id, spans[, fmt][, extra…]) → `schema` rows: `fn(doc_id,
    spans)` once per document in one narrow `mapInArrow` stage (no shuffle),
    chained onto `df`'s map when `df` is one (`map_batches`).
    `with_fmt=True` hands `fn` 4-tuples carrying the `fmt` flags when the
    input has that column."""
    out_schema = arrow_schema(schema)
    return map_batches(df, lambda rb: map_batch(rb, fn, out_schema, with_fmt), schema)


def _values(col: pa.Array) -> list:
    if (pa.types.is_string(col.type) or pa.types.is_large_string(col.type)
            or pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type)):
        return _strings(col)
    return col.to_pylist()


def map_rows(df, fn: RowFn, cols: Sequence[str], schema: str):
    """rows → `schema` rows: `fn(*values of cols)` once per input row, its
    output tuples stacked in input order, in one narrow `mapInArrow` stage
    (no shuffle), chained onto `df`'s map when `df` is one (`map_batches`).
    Declared fields beyond the width of `fn`'s tuples pass through from the
    input row."""
    out_schema = arrow_schema(schema)

    def batch_fn(rb: pa.RecordBatch) -> pa.RecordBatch:
        names = rb.schema.names
        values = [_values(rb.column(names.index(c))) for c in cols]
        rows: List[tuple] = []
        row_in: List[int] = []
        for i, args in enumerate(zip(*values)):
            out = fn(*args)
            rows.extend(out)
            row_in.extend([i] * len(out))
        return _to_batch(rb, rows, row_in, out_schema)

    return map_batches(df, batch_fn, schema)
