"""Generated SQL oracle for the flagship KG pipeline (``kg_flagship_triples``).

Rounds 1-2 left the flagship as a rows-only driver check ("pandas-UDF
extraction isn't SQL-expressible"). That objection falls with two facts:

1. the driver ``documents`` corpus is single-space-joined lowercase word
   tokens (``^[a-z]+( [a-z]+)*$`` holds at every sf, asserted below), so the
   extractors' ``\\b``-anchored regex matches are exactly token-equality
   matches and every mention offset is a prefix sum of token lengths — both
   plain SQL;
2. the model stubs' skip/flip decisions hash with md5
   (extractors/model_stub.py ``_crc``), which DuckDB replays bit-identically
   via ``('0x' || substr(md5(key), 1, 15))::BIGINT`` — the same cross-engine
   trick as ``operators.dedup.md5_60``.

The SQL is *generated from the same gazetteer/pattern/combo constants* the
Spark pipeline is configured with (flagship.py), so engine and oracle share
inputs but no execution path: the oracle re-derives clean -> three
extractors -> consensus fusion -> priority vote -> trusted promotion ->
instance + relation triples entirely inside DuckDB.

Reference semantics being replayed: consensus fold + vote + promotion
(reference: src/utils/ner_config.py:57-197), duplicate-document collapse
(reference: src/utils/epg_cleaner.py:61-69).
"""

from __future__ import annotations

import re as _re

from .extractors.model_stub import _ROTATE, FLIP_MOD, SKIP_MOD
from .flagship import _COMBOS, _GAZ, _PATTERNS, flagship_triples
from .operators.consensus import SOURCE_ORDER
from .operators.relations import MAX_GAP, PRED_RULES
from .oracle_minhash import md5_60_sql as _md5_60
from .synth import GAZ_GRF


def _pattern_words(regex: str) -> list[str]:
    """The flagship pattern bank is word alternations only — anything else
    cannot be replayed by token equality and must fail loudly here."""
    m = _re.fullmatch(r"\\b\(([a-z|]+)\)\\b", regex)
    if m is None:
        raise ValueError(f"not a word-alternation pattern: {regex!r}")
    return m.group(1).split("|")


def _matcher_values() -> str:
    """(surface, label, grf, is_gaz) rows for the rule bank, resolving
    ambiguous aliases highest-weight-first exactly like casen._compile."""
    ordered = sorted(
        ((a, label, w) for _e, a, label, w in _GAZ), key=lambda r: (-r[2], r[0], r[1])
    )
    by_surface: dict[str, str] = {}
    for a, label, _w in ordered:
        # the oracle replays gazetteer hits by TOKEN equality; an alias
        # that is not one lowercase word would silently never match there
        # while the engine's \b-anchored alternation still would — fail
        # loudly at import, like _pattern_words does for the pattern bank
        if not _re.fullmatch(r"[a-z]+", a):
            raise ValueError(
                f"flagship gazetteer alias must be one lowercase word: {a!r}"
            )
        by_surface.setdefault(a, label)
    rows = [(a, label, GAZ_GRF[label], 1) for a, label in by_surface.items()]
    for pid, rx, label in _PATTERNS:
        rows.extend((w, label, pid, 0) for w in _pattern_words(rx))
    return ",\n    ".join(
        f"('{s}', '{l}', '{g}', {i})" for s, l, g, i in sorted(rows)
    )


def _rotate_case() -> str:
    whens = " ".join(f"WHEN '{a}' THEN '{b}'" for a, b in sorted(_ROTATE.items()))
    return f"CASE m.label {whens} END"


def _stub_key(salt_expr: str, decision: str) -> str:
    key = (
        "p.doc_uid || ':' || p.s::VARCHAR || ':' || p.e::VARCHAR || ':' || "
        f"{salt_expr} || ':{decision}'"
    )
    return _md5_60(key)


def _combo_conditions() -> str:
    conds = []
    for slots in _COMBOS:
        parts = [
            f"grfs[{i + 1}] IS NOT DISTINCT FROM '{slot}'"
            for i, slot in enumerate(slots)
        ]
        conds.append("(" + " AND ".join(parts) + ")")
    return "\n               OR ".join(conds)


def _pred_case(rules=PRED_RULES) -> str:
    whens = "\n             ".join(
        f"WHEN regexp_matches(btw, '{rx}') THEN '{name}'" for rx, name in rules
    )
    return f"CASE {whens} END"


#: model-source salts in fold order (SOURCE_ORDER minus the rule system,
#: which is rank 0)
_MODEL_SOURCES = [
    (rank, name) for rank, name in enumerate(SOURCE_ORDER) if name != "casEN"
]
_SYS_VALUES = ", ".join(f"('{name}', {rank})" for rank, name in _MODEL_SOURCES)

def build_flagship_sql(pred_rules=PRED_RULES) -> str:
    """Full flagship replay SQL, parameterized on the relation rule bank so
    rule-bank variants (e.g. the testdata-vocabulary bank in flagship.py,
    which actually fires on the driver corpus — the reference French rules
    cannot) replay through the identical generated pipeline SQL."""
    from .queries import normalize_ws_sql  # local: queries_graphkg calls this mid-import

    return f"""
    WITH src AS MATERIALIZED (
      -- docs_as_spans + S0 normalize: the corpus is already single-spaced
      -- lowercase tokens, so normalize_ws is trim+collapse (asserted: the
      -- guard row below fails the whole query if any text violates that)
      SELECT printf('d%09d', doc_id) AS did,
             {normalize_ws_sql('text')} AS text
      FROM documents
      WHERE text IS NOT NULL
        AND 1 = CASE WHEN regexp_matches(text, '^[a-z]+( [a-z]+)*$')
                     THEN 1 ELSE error('flagship oracle: non-token text') END
    ),
    cleaned AS MATERIALIZED (          -- S1 dedup: identical texts collapse, min-id uid
      SELECT min(did) AS doc_uid, text
      FROM src WHERE text <> '' GROUP BY text
    ),
    t AS (SELECT doc_uid, string_split(text, ' ') AS toks FROM cleaned),
    tok AS (
      SELECT doc_uid, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
      FROM t
    ),
    p0 AS MATERIALIZED (               -- char offset of each token = prefix sum
      SELECT doc_uid, tok,
             CAST(coalesce(sum(length(tok) + 1) OVER (
                 PARTITION BY doc_uid ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s
      FROM tok
    ),
    p AS MATERIALIZED (SELECT doc_uid, tok, s, s + length(tok) AS e FROM p0),
    matchers(surface, label, grf, is_gaz) AS (VALUES
    {_matcher_values()}
    ),
    cas AS (              -- rule extractor: gazetteer + patterns, merged grfs
      SELECT p.doc_uid, p.tok AS NE, m.label, p.s, p.e,
             list_sort(list(DISTINCT m.grf)) AS grfs
      FROM p JOIN matchers m ON p.tok = m.surface
      GROUP BY p.doc_uid, p.tok, m.label, p.s, p.e
    ),
    stub AS (             -- model stubs: md5-keyed skip ~1/{SKIP_MOD}, flip ~1/{FLIP_MOD}
      SELECT p.doc_uid, p.tok AS NE,
             CASE WHEN {_stub_key("sys.salt", "flip")} % {FLIP_MOD} = 0
                  THEN {_rotate_case()} ELSE m.label END AS label,
             p.s, p.e, sys.salt AS method, sys.rank
      FROM p
      JOIN matchers m ON p.tok = m.surface AND m.is_gaz = 1
      CROSS JOIN (VALUES {_SYS_VALUES}) AS sys(salt, rank)
      WHERE {_stub_key("sys.salt", "skip")} % {SKIP_MOD} <> 0
    ),
    u AS (
      SELECT doc_uid, NE, label, s, e, 'casEN' AS method, 0 AS rank, grfs FROM cas
      UNION ALL
      SELECT doc_uid, NE, label, s, e, method, rank,
             CAST(NULL AS VARCHAR[]) FROM stub
    ),
    fused AS (            -- C1 fusion: ordered provenance concat, 1 group-by
      SELECT doc_uid, NE, label, s, e,
             string_agg(method, '_' ORDER BY rank) AS method,
             count(*) AS w,
             any_value(grfs) FILTER (WHERE rank = 0) AS grfs
      FROM u GROUP BY doc_uid, NE, label, s, e
    ),
    w1 AS (               -- W1 strict-majority vote over same-span groups
      SELECT *, count(*) OVER win AS grp, max(w) OVER win AS maxw
      FROM fused WINDOW win AS (PARTITION BY doc_uid, s, e, NE)
    ),
    w2 AS (
      SELECT *, sum(CASE WHEN w = maxw THEN 1 ELSE 0 END) OVER win AS winners
      FROM w1 WINDOW win AS (PARTITION BY doc_uid, s, e, NE)
    ),
    voted AS (
      SELECT doc_uid, NE, label, s, e, grfs,
             CASE WHEN label IN ('PER') AND grp > 1 AND w = maxw AND winners = 1
                  THEN method || '_priority' ELSE method END AS method
      FROM w2
    ),
    promoted AS MATERIALIZED (         -- F3 trusted-combo promotion (NaN quirk: "" slots
                          -- never equal a missing grf under IS NOT DISTINCT FROM)
      SELECT doc_uid, NE, label, s, e,
             CASE WHEN method = 'casEN'
                   AND ({_combo_conditions()})
                  THEN 'casENOpti' ELSE method END AS method
      FROM voted
    ),
    inst AS (             -- instance triples: (NE, instance_of, label)
      SELECT NE AS subj, 'instance_of' AS pred, label AS obj, doc_uid,
             min(method) AS method
      FROM promoted GROUP BY doc_uid, NE, label
    ),
    relpair AS (          -- co-mention pairs within {MAX_GAP} chars, text order
      SELECT a.doc_uid, a.NE AS subj, b.NE AS obj,
             substring(c.text, a.e + 1, b.s - a.e) AS btw,
             a.method || '+' || b.method AS method
      FROM promoted a
      JOIN promoted b ON a.doc_uid = b.doc_uid
      JOIN cleaned c ON c.doc_uid = a.doc_uid
      WHERE a.e <= b.s AND b.s - a.e <= {MAX_GAP}
        AND (a.s <> b.s OR a.e <> b.e)
        AND a.NE <> b.NE
    ),
    rel AS (
      SELECT subj, pred, obj, doc_uid, min(method) AS method
      FROM (SELECT *, {_pred_case(pred_rules)} AS pred FROM relpair)
      WHERE pred IS NOT NULL
      GROUP BY doc_uid, subj, pred, obj
    )
    SELECT subj, pred, obj, doc_uid, method FROM inst
    UNION ALL
    SELECT subj, pred, obj, doc_uid, method FROM rel
"""


# imported only now: ``queries`` imports every registry module at its
# bottom, and queries_graphkg imports build_flagship_sql from here — so if
# this module is imported first, that name must already exist
from .queries import query  # noqa: E402

FLAGSHIP_SQL = build_flagship_sql()

# registers the flagship as a full rows+schema+hash driver query; the Spark
# side is the real pipeline (clean -> fused extractor UDF -> consensus ->
# vote -> promote -> triples), untouched
query("kg_flagship_triples", FLAGSHIP_SQL)(flagship_triples)
