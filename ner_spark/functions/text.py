"""String/scalar column functions (SURVEY.md §2 G*) — all JVM-side, no UDFs.

Every one of these stays inside whole-stage codegen; the reference implements
the same logic with per-row Python (citations inline).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_ws(col: Column) -> Column:
    """Collapse runs of whitespace and trim.

    The single normalization stage shared by every matcher so that mention
    offsets agree across systems — the reference's taggers disagree on
    whitespace space (CasEN normalizes, spaCy/stanza don't; SURVEY.md §2 G9),
    which we fix by normalizing once, up front.
    """
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def has_text(col: Column) -> Column:
    """The blank-document filter: not null and not all U+0020. A tab-only
    or newline-only document passes (``trim`` strips spaces only)."""
    return col.isNotNull() & (F.length(F.trim(col)) > 0)


def tokens(col: Column) -> Column:
    """Whitespace tokens. Filter with ``has_text`` first: an empty or
    all-space document gives ``['']`` (n_tokens=1). Because ``trim``
    strips U+0020 only, a document that passes the filter can still give
    empty tokens: a tab-only one gives ``['', '']``, and a leading tab or
    newline gives a leading ``''``. ``queries.tokens_sql``,
    ``normalize_ws_sql`` and ``HAS_TEXT_SQL`` are the DuckDB twins of
    ``tokens``, ``normalize_ws`` and ``has_text``; they agree on every
    string."""
    return F.split(F.trim(col), r"\s+")


def ngrams(toks: str, n: int, fields: tuple[str, ...] = ()) -> Column:
    """In-order word n-grams of the token-array column named ``toks``: the
    space-joined strings, or with ``fields`` (one name per position) one
    struct per gram. Fewer than ``n`` tokens gives ``[]``; a null array
    gives null. ``queries.ngrams_sql`` is the DuckDB twin.

    NB: ``toks`` must name an already-projected token array, never an
    inline ``split(...)``: each gram reads its input ``n`` times and
    Catalyst performs no CSE across those reads, so an inline tokenizer
    re-tokenizes the text ~n*n_grams times per row (measured 5x slower
    at sf0.1)."""
    t = F.col(toks)
    starts = F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0)))

    def gram(x: Column, i: Column) -> Column:
        parts = [x] + [t[i + j] for j in range(1, n)]
        if fields:
            return F.struct(*[p.alias(f) for p, f in zip(parts, fields, strict=True)])
        return F.concat_ws(" ", *parts)

    return F.transform(starts, gram)


def strip_tags(col: Column) -> Column:
    """Remove ``<s>``/``</s>`` sentence tags (reference: casen_config.py:184-189)."""
    return F.regexp_replace(col, r"</?s\b[^>]*>", "")


def normalize_surface(col: Column) -> Column:
    """Blocking key for entity linking: lowercase + whitespace-collapse."""
    return F.lower(normalize_ws(col))


def method_weight(method: Column) -> Column:
    """#agreeing systems = underscore count + 1 (reference: ner_config.py:133)."""
    return F.size(F.split(method, "_"))


def context_window(text: Column, start: Column, end: Column, window: int = 30) -> Column:
    """±window chars around a mention (reference: casen_config.py:276-279).

    ``start``/``end`` are 0-based char offsets; substring() is 1-based.
    """
    lo = F.greatest(F.lit(1), start - F.lit(window) + F.lit(1))
    ln = end + F.lit(window) - (lo - F.lit(1))
    return F.substring(text, lo.cast("int"), ln.cast("int"))


def label_from_map(col: Column, mapping: dict[str, str], default: str = "Undefined") -> Column:
    """Chained-when lookup (reference label maps, casen_config.py:210-222)."""
    expr = F.lit(default)
    for k, v in reversed(list(mapping.items())):
        expr = F.when(col == F.lit(k), F.lit(v)).otherwise(expr)
    return expr
