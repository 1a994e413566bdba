"""S0 normalize + S1 dedup (SURVEY.md §2 B1/B2/D1, §7 S0-S1).

S0 turns the interleaved span documents into one normalized text per doc,
processing spans strictly in ``offset`` order — the per-row span-sequence
invariant (kind, text, media_ref, order) is never violated because spans are
only *read* (sorted copies), never rewritten.

S1 is the reference's duplicate-document elimination before tagging
(reference: src/utils/epg_cleaner.py:61-69 and README.md:182 — "reduce the
workload"): identical texts collapse to one row carrying every source doc_id.
Determinism notes (SURVEY.md §7 "what's hard" #1):
- ``files_id`` = ascending-sorted doc_ids (the reference's tuple is built in
  index order, which for its row-index ids *is* ascending order);
- the representative (``first``-value) row is pinned to min(doc_id) via
  ``min_by`` — pandas ``first`` picks the lowest index, same thing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_ws


def sorted_spans(col=None):
    """Spans in offset order — the only legal processing order (input_hint)."""
    if col is None:
        col = F.col("spans")
    return F.array_sort(
        col,
        lambda a, b: F.when(a["offset"] < b["offset"], F.lit(-1))
        .when(a["offset"] > b["offset"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def doc_text(col=None):
    """Concatenate text spans in offset order, whitespace-normalized."""
    if col is None:
        col = F.col("spans")
    texts = F.filter(
        sorted_spans(col), lambda s: (s["kind"] == "text") & s["text"].isNotNull()
    )
    return normalize_ws(F.array_join(F.transform(texts, lambda s: s["text"]), " "))


def normalize_docs(docs: DataFrame) -> DataFrame:
    """S0: (doc_id, spans) -> (doc_id, text, spans). Narrow, no shuffle."""
    return docs.select(
        "doc_id",
        doc_text(F.col("spans")).alias("text"),
        sorted_spans(F.col("spans")).alias("spans"),
    )


def dedup_docs(normalized: DataFrame) -> DataFrame:
    """S1: drop empty docs, merge identical texts, keep all source ids.

    One shuffle on ``text``; partial aggregation is map-side (min / collect
    combine). At 100 TB this is the cheapest possible exact dedup: the hot
    path downstream (extractor UDFs) then runs once per *unique* document.
    """
    return (
        normalized.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_uid"),
            F.sort_array(F.collect_list("doc_id")).alias("files_id"),
            F.min_by("spans", "doc_id").alias("spans"),
        )
        .select("doc_uid", "text", "files_id", "spans")
    )


def clean(docs: DataFrame) -> DataFrame:
    """S0+S1 composed: the Spark form of EPGCleaner.clean."""
    return dedup_docs(normalize_docs(docs))
