"""Rule-based extractor ("casEN" analogue): gazetteer + regex pattern bank.

The reference's CasEN stage shells out to an external Unitex notebook and
parses its XML back (reference: src/utils/casen_config.py:178-182, 226-314).
Per the north_star, the external process is replaced by in-engine matchers:
a broadcast gazetteer (alias dictionary) and a regex rule bank, which the
fused extractor (``combined.combined_mentions``) runs together in its one
pandas-UDF pass per document batch. Rule hits landing on the same
(surface, label, span) merge their rule ids into a sorted ``grfs`` array —
the Spark form of the reference's ``grf_1..grf_n`` wide columns
(reference: casen_config.py:295-304).

Scale note: the alias automaton is compiled once per Python worker from a
broadcast list. For a multi-million-alias gazetteer this compiles to an
Aho-Corasick automaton instead of a regex alternation; the plumbing
(broadcast -> per-worker lazy compile -> Arrow batch scan) is identical.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame


def _compile(gaz_rows: list[tuple], pattern_rows: list[tuple]):
    """gaz_rows: (alias, label); pattern_rows: (pattern_id, regex, label)."""
    # gaz_rows arrive weight-descending: for an ambiguous alias the highest-
    # weight label wins, deterministically
    by_surface: dict[str, str] = {}
    for alias, label in gaz_rows:
        by_surface.setdefault(alias, label)
    # longest-first so the alternation prefers "Marie Curie" over "Curie".
    # An EMPTY gazetteer must compile to a never-matching pattern: the
    # naive r"\b(?:)\b" matches zero-width at every word boundary and the
    # by_surface lookup of '' then raises inside the executor UDF
    surfaces = sorted(by_surface, key=lambda a: (-len(a), a))
    if surfaces:
        gaz_re = re.compile(
            r"\b(?:" + "|".join(re.escape(a) for a in surfaces) + r")\b"
        )
    else:
        gaz_re = re.compile(r"(?!x)x")  # matches nothing
    pats = [(pid, re.compile(rx), label) for pid, rx, label in pattern_rows]
    return gaz_re, by_surface, pats


def _scan_doc(text: str, gaz_re, by_surface, pats, gaz_grf: dict[str, str]):
    """One document -> list of mention dicts with merged sorted grfs."""
    found: dict[tuple, set] = {}
    for m in gaz_re.finditer(text):
        ne = m.group(0)
        label = by_surface[ne]
        found.setdefault((ne, label, m.start(), m.end()), set()).add(gaz_grf[label])
    for pid, rx, label in pats:
        for m in rx.finditer(text):
            grp = 1 if rx.groups else 0
            ne = m.group(grp)
            found.setdefault((ne, label, m.start(grp), m.end(grp)), set()).add(pid)
    return [
        {"NE": ne, "label": label, "start": s, "end": e, "grfs": sorted(grfs)}
        for (ne, label, s, e), grfs in found.items()
    ]


def _asc(v) -> tuple:
    return (v is not None, v or "")


def gazetteer_rows(gazetteer: DataFrame) -> tuple:
    """(alias, label) in match-priority order, sorted in the driver (the
    table is small) exactly as Spark's ``orderBy(desc("weight"), "alias",
    "label")``: ascending puts nulls first, and ``desc`` on a double puts
    NaN first and nulls last."""

    def desc(w):
        return (2, 0.0) if w is None else (0, 0.0) if math.isnan(w) else (1, -w)

    rows = gazetteer.select("alias", "label", "weight").collect()
    rows.sort(key=lambda r: (desc(r[2]), _asc(r[0]), _asc(r[1])))
    return tuple((r[0], r[1]) for r in rows)


def pattern_rows(patterns: DataFrame) -> tuple:
    """(pattern_id, regex, label) sorted as Spark's ``orderBy("pattern_id")``."""
    rows = patterns.select("pattern_id", "regex", "label").collect()
    rows.sort(key=lambda r: _asc(r[0]))
    return tuple(map(tuple, rows))

