"""Sorted-neighborhood dedup batch (round 3).

``dedup_sorted_neighborhood``: the classic windowed-scan alternative to
hash/LSH blocking (Hernández & Stolfo, SIGMOD 1995). Records sort on a
normalized key; each record is compared only with the next ``window-1``
records in sort order; candidates are verified with exact token-set
Jaccard. Complements the shingle/minhash family already in the registry:
it catches near-dups whose differing tokens fall *inside* every shingle
block (hash blocking splits them) as long as their key prefixes agree.

Reference scope: the NER repo dedups on exact text equality
(src/utils/epg_cleaner.py drop_duplicates); this is the fuzzy sibling a
production corpus pass runs next to it.

The oracle replays the whole construction in DuckDB — same normalized
key, same prefix blocking, same two lead() offsets, same integer
threshold compare — so the hash check covers sort order, window
semantics, and the Jaccard arithmetic.
"""

from __future__ import annotations

from .queries import HAS_TEXT_SQL, _t, query

_SNM_WINDOW = 3
_SNM_PCT = 80
_SNM_KEY_LEN = 64
_SNM_BLOCK_LEN = 2

_SNM_SQL = f"""
    WITH keyed AS (
      SELECT doc_id AS doc,
             substring(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'),
                       1, {_SNM_KEY_LEN}) AS skey,
             list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               t -> t <> '')) AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    blocked AS (
      SELECT doc, skey, toks, substring(skey, 1, {_SNM_BLOCK_LEN}) AS blk
      FROM keyed WHERE skey <> ''
    ),
    neigh AS (
      SELECT doc, toks,
             lead(doc, 1) OVER w AS d1, lead(toks, 1) OVER w AS t1,
             lead(doc, 2) OVER w AS d2, lead(toks, 2) OVER w AS t2
      FROM blocked
      WINDOW w AS (PARTITION BY blk ORDER BY skey, doc)
    ),
    pairs AS (
      SELECT least(doc, d1) AS doc_a, greatest(doc, d1) AS doc_b,
             toks AS ta, t1 AS tb
      FROM neigh WHERE d1 IS NOT NULL
      UNION ALL
      SELECT least(doc, d2), greatest(doc, d2), toks, t2
      FROM neigh WHERE d2 IS NOT NULL
    ),
    scored AS (
      SELECT DISTINCT doc_a, doc_b,
             len(list_intersect(ta, tb)) AS inter,
             len(ta) + len(tb) - len(list_intersect(ta, tb)) AS uni
      FROM pairs
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
    FROM scored
    WHERE inter * 100 >= uni * {_SNM_PCT}
"""


def _pass_pairs_sql(key_sql: str, tag: str) -> str:
    """One sorted-neighborhood pass as a chain of tagged CTEs producing
    ``pairs_{tag}``: (doc_a, doc_b, ta, tb) candidates for the given sort
    key expression (forward or reversed normalized text)."""
    return f"""
    keyed_{tag} AS (
      SELECT doc_id AS doc,
             substring({key_sql}, 1, {_SNM_KEY_LEN}) AS skey,
             list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               t -> t <> '')) AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    blocked_{tag} AS (
      SELECT doc, skey, toks, substring(skey, 1, {_SNM_BLOCK_LEN}) AS blk
      FROM keyed_{tag} WHERE skey <> ''
    ),
    neigh_{tag} AS (
      SELECT doc, toks,
             lead(doc, 1) OVER w AS d1, lead(toks, 1) OVER w AS t1,
             lead(doc, 2) OVER w AS d2, lead(toks, 2) OVER w AS t2
      FROM blocked_{tag}
      WINDOW w AS (PARTITION BY blk ORDER BY skey, doc)
    ),
    pairs_{tag} AS (
      SELECT least(doc, d1) AS doc_a, greatest(doc, d1) AS doc_b,
             toks AS ta, t1 AS tb
      FROM neigh_{tag} WHERE d1 IS NOT NULL
      UNION ALL
      SELECT least(doc, d2), greatest(doc, d2), toks, t2
      FROM neigh_{tag} WHERE d2 IS NOT NULL
    )"""


_NORM_SQL = "regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')"

_SNM_MP_SQL = f"""
    WITH {_pass_pairs_sql(_NORM_SQL, "f")},
    {_pass_pairs_sql(f"reverse({_NORM_SQL})", "r")},
    allp AS (SELECT * FROM pairs_f UNION ALL SELECT * FROM pairs_r),
    scored AS (
      SELECT DISTINCT doc_a, doc_b,
             len(list_intersect(ta, tb)) AS inter,
             len(ta) + len(tb) - len(list_intersect(ta, tb)) AS uni
      FROM allp
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
    FROM scored
    WHERE inter * 100 >= uni * {_SNM_PCT}
"""


@query("dedup_snm_multipass", _SNM_MP_SQL)
def dedup_snm_multipass(spark, sf_dir):
    """Two-pass sorted-neighborhood dedup (forward + reversed sort key) —
    the literature's standard recall fix for single-pass block-boundary
    blindness (operators/dedup.py:sorted_neighborhood_multipass). Both
    passes' candidates union before one shared Jaccard verifier; the
    verify distinct collapses pairs both passes found."""
    from .operators.dedup import sorted_neighborhood_multipass

    return sorted_neighborhood_multipass(
        _t(spark, sf_dir, "documents"),
        window=_SNM_WINDOW,
        threshold_pct=_SNM_PCT,
        key_len=_SNM_KEY_LEN,
        block_len=_SNM_BLOCK_LEN,
    )


_ED_MAX_DIST = 16
_ED_MAX_CHARS = 512

_ED_SQL = f"""
    WITH keyed AS (
      SELECT doc_id AS doc,
             substring(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'),
                       1, {_SNM_KEY_LEN}) AS skey,
             substring(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       1, {_ED_MAX_CHARS}) AS pay
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    blocked AS (
      SELECT doc, skey, pay, substring(skey, 1, {_SNM_BLOCK_LEN}) AS blk
      FROM keyed WHERE skey <> ''
    ),
    neigh AS (
      SELECT doc, pay,
             lead(doc, 1) OVER w AS d1, lead(pay, 1) OVER w AS p1,
             lead(doc, 2) OVER w AS d2, lead(pay, 2) OVER w AS p2
      FROM blocked
      WINDOW w AS (PARTITION BY blk ORDER BY skey, doc)
    ),
    pairs AS (
      SELECT least(doc, d1) AS doc_a, greatest(doc, d1) AS doc_b,
             pay AS pa, p1 AS pb
      FROM neigh WHERE d1 IS NOT NULL
      UNION ALL
      SELECT least(doc, d2), greatest(doc, d2), pay, p2
      FROM neigh WHERE d2 IS NOT NULL
    ),
    scored AS (
      SELECT DISTINCT doc_a, doc_b,
             CAST(levenshtein(pa, pb) AS BIGINT) AS dist
      FROM pairs
    )
    SELECT doc_a, doc_b, dist FROM scored WHERE dist <= {_ED_MAX_DIST}
"""


@query("dedup_edit_distance", _ED_SQL)
def dedup_edit_distance(spark, sf_dir):
    """Levenshtein<=16 near-dup pairs over the same sorted-neighborhood
    window (operators/dedup.py:edit_distance_pairs). The payload is
    ASCII-normalized so JVM char-level and byte-level levenshtein agree;
    the engine side uses the threshold-pruned 3-arg levenshtein (Ukkonen
    band, O(len*k) per rejected candidate)."""
    from .operators.dedup import edit_distance_pairs

    return edit_distance_pairs(
        _t(spark, sf_dir, "documents"),
        window=_SNM_WINDOW,
        max_dist=_ED_MAX_DIST,
        max_chars=_ED_MAX_CHARS,
        key_len=_SNM_KEY_LEN,
        block_len=_SNM_BLOCK_LEN,
    )


@query("dedup_sorted_neighborhood", _SNM_SQL)
def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood near-dup pairs at Jaccard>=0.8, window=3,
    2-char prefix blocks (operators/dedup.py:sorted_neighborhood_pairs).
    The sliding window is a block-partitioned lead(), never a global
    sort; verification is JVM-side set arithmetic on pre-distincted
    token arrays with an integer threshold compare."""
    from .operators.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        _t(spark, sf_dir, "documents"),
        window=_SNM_WINDOW,
        threshold_pct=_SNM_PCT,
        key_len=_SNM_KEY_LEN,
        block_len=_SNM_BLOCK_LEN,
    )
