"""Table-association operators (SURVEY.md §2.3 J1-J3, §2.2 F12, §2.3 J8).

J1 — as-of context join: every table inherits the most recent (§, odsek)
markers preceding it in reading order. The reference walks the tree carrying
running state (/root/reference/sequential_parser.py:1647-1768
build_table_context_map); in Spark this is exactly
`last(marker, ignorenulls=True) OVER (PARTITION BY doc_id ORDER BY offset)`
on the exploded span stream — a native window, whole-stage codegen, one
shuffle on doc_id (or zero if the table is already bucketed by doc_id).

F12 — metadata-vs-legal table classifier: first ≤10 cell texts scored
against metadata/legal pattern lists (sequential_parser.py:1417-1563).

J3 — fuzzy text→table match: score header-word overlap (+10/header when
≥50% overlap) and matching data rows (+5/row, ≥2 rows), accept best ≥10 with
lowest-index tiebreak (sequential_parser.py:1291-1409).

J8 — assignment audit: tables never assigned to a unit + duplicate
assignments → metrics (sequential_parser.py:4022-4105), expressed as a
left anti-join / exploded count.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def explode_spans(normalized: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span (doc_id, offset, kind,
    text, media_ref). Narrow generate — no shuffle."""
    return normalized.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def assign_table_context(normalized: DataFrame) -> DataFrame:
    """J1 window form: (doc_id, table_ref, section_marker, subsection_marker)
    for every distinct table, with the as-of §/odsek context."""
    spans = explode_spans(normalized)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sec = F.last(
        F.when(F.col("kind") == "paragraph", F.col("text")), ignorenulls=True
    ).over(w)
    # odsek context RESETS at each new § (reference carries (section,
    # subsection) together): track the last structural marker as a struct,
    # then keep its text only when that marker was an odsek
    last_struct = F.last(
        F.when(
            F.col("kind").isin("paragraph", "odsek"),
            F.struct(F.col("kind").alias("k"), F.col("text").alias("t")),
        ),
        ignorenulls=True,
    ).over(w)
    sub = F.when(last_struct["k"] == "odsek", last_struct["t"])
    table_ref = F.regexp_extract(F.col("media_ref"), r"^(#/tables/\d+)/", 1)
    return (
        spans.withColumn("section_marker", sec)
        .withColumn("subsection_marker", sub)
        .filter((F.col("kind") == "table_cell") & (table_ref != ""))
        .groupBy("doc_id", table_ref.alias("table_ref"))
        .agg(
            F.first("section_marker").alias("section_marker"),
            F.first("subsection_marker").alias("subsection_marker"),
            F.min("offset").alias("table_offset"),
        )
    )


# --- J2: positional range join table → unit ----------------------------------


def assign_tables_by_range(units: DataFrame, tables: DataFrame,
                           slack: int = 5, closest: bool = True) -> DataFrame:
    """J2 — a table belongs to a unit when its stream position falls in
    [unit_start − slack, unit_end + slack] (the reference's strategy 1a/1b
    ±5 body-children window, find_tables_for_unit
    /root/reference/sequential_parser.py:1917-2105; strategy 1c is the
    slack=0 case).

    units:  (doc_id, unit_id, start_pos, end_pos)
    tables: (doc_id, table_ref, pos)

    Plan shape: equi-join on doc_id with the range as a join-time filter —
    both sides are document-local (tiny per-doc cardinality), so the shuffle
    key is doc_id and the range predicate never degenerates into a cross
    product across documents. `closest=True` resolves multi-unit matches to
    the nearest unit (distance 0 when inside; lowest unit_id tiebreak) —
    duplicates left by closest=False are exactly what the J8 audit reports."""
    j = tables.join(units, "doc_id").filter(
        (F.col("pos") >= F.col("start_pos") - slack)
        & (F.col("pos") <= F.col("end_pos") + slack)
    )
    if not closest:
        return j.select("doc_id", "table_ref", "pos", "unit_id")
    inside = (F.col("pos") >= F.col("start_pos")) & (F.col("pos") <= F.col("end_pos"))
    dist = F.when(inside, F.lit(0)).otherwise(
        F.least(
            F.abs(F.col("pos") - F.col("start_pos")),
            F.abs(F.col("pos") - F.col("end_pos")),
        )
    )
    w = Window.partitionBy("doc_id", "table_ref").orderBy(
        dist.asc(), F.col("unit_id").asc()
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "table_ref", "pos", "unit_id")
    )


# --- F12: metadata vs legal table classifier --------------------------------

_METADATA_PATTERNS = [
    r"dátum", r"číslo predpisu", r"názov predpisu", r"druh predpisu",
    r"účinnosť od", r"účinnosť do", r"uverejnené v", r"ročník", r"čiastka",
    r"obsah pôvodného", r"schválené",
]
_LEGAL_PATTERNS = [
    r"^\d+-\d+$", r"^\d+\.[\d.]*$", r"položka", r"^kp$", r"názov",
    r"sadzba", r"odpisová", r"skupina", r"^§", r"suma",
]


def classify_table_cells(first_cells: Sequence[str]) -> str:
    """'metadata' | 'legal' | 'unknown' from the first ≤10 cell texts
    (F12 semantics, sequential_parser.py:1417-1563)."""
    cells = [c.strip().lower() for c in list(first_cells)[:10] if c and c.strip()]
    meta = sum(1 for c in cells for p in _METADATA_PATTERNS if re.search(p, c))
    legal = sum(1 for c in cells for p in _LEGAL_PATTERNS if re.search(p, c))
    if meta > legal and meta > 0:
        return "metadata"
    if legal > 0:
        return "legal"
    return "unknown"


# --- J3: fuzzy text-rendered-table → real-table match ------------------------


def score_table_match(header_words: set, data_rows: Sequence[str],
                      table_headers: Sequence[str], table_rows: Sequence[str]) -> int:
    """Reference scoring (sequential_parser.py:1291-1409): +10 per table
    header whose word-set overlaps ≥50% with the text headers; +5 per data
    row whose key appears in the table (needs ≥2); accept threshold is 10."""
    score = 0
    for th in table_headers:
        words = {w for w in re.split(r"\W+", th.lower()) if w}
        if words and len(words & header_words) * 2 >= len(words):
            score += 10
    row_hits = sum(1 for r in data_rows if r in set(table_rows))
    if row_hits >= 2:
        score += 5 * row_hits
    return score


def find_table_by_text_match(header_words: set, data_rows: Sequence[str],
                             tables: Sequence[Tuple[Sequence[str], Sequence[str]]]) -> Optional[int]:
    """Best-scoring table index (≥10), deterministic lowest-index tiebreak."""
    best_idx, best_score = None, 9
    for i, (headers, rows) in enumerate(tables):
        s = score_table_match(header_words, data_rows, headers, rows)
        if s > best_score:
            best_idx, best_score = i, s
    return best_idx


# --- J8: assignment audit → metrics -------------------------------------------


def table_assignment_audit(normalized: DataFrame, assigned: DataFrame) -> DataFrame:
    """(doc_id, n_tables, n_assigned, n_unassigned) — unassigned = anti-join
    of all table refs against assignments."""
    spans = explode_spans(normalized)
    table_ref = F.regexp_extract(F.col("media_ref"), r"^(#/tables/\d+)/", 1)
    all_tables = (
        spans.filter((F.col("kind") == "table_cell") & (table_ref != ""))
        .select("doc_id", table_ref.alias("table_ref"))
        .distinct()
    )
    unassigned = all_tables.join(
        assigned.select("doc_id", "table_ref"), ["doc_id", "table_ref"], "left_anti"
    )
    return (
        all_tables.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tables"))
        .join(
            unassigned.groupBy("doc_id").agg(
                F.count("*").cast("long").alias("n_unassigned")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_tables",
            (F.col("n_tables") - F.coalesce(F.col("n_unassigned"), F.lit(0))).alias("n_assigned"),
            F.coalesce(F.col("n_unassigned"), F.lit(0)).alias("n_unassigned"),
        )
    )
