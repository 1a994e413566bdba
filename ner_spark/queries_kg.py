"""Driver queries for the SURVEY.md §2 operators that round 1 verified only
by pytest goldens: F3 promotion (both variants), W2/W3 ordering, D7 mention
dedup, C3 legacy conflict promotion, D6 value counts, G7 excluded names,
U1/A4/A5/G2/B4 CasEN parsing, A3 corpus serialization, G1/G5/G6/G8/G9
scalar functions, plus the north-star S5 linking and S6 canonicalization
stages. Every query here calls the REAL operator from ner_spark.operators/
sources and pairs it with an independent ANSI-SQL oracle over the same
parquet tables (deterministic fixtures are constructed identically on both
sides from the ``documents`` table — no Python state crosses over).

Registers into the same Q/ORACLE dicts as ner_spark.queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.text import has_text, tokens
from .queries import HAS_TEXT_SQL, _t, normalize_ws_sql, query, tokens_sql

# surface -> base label used by every fixture below (SQL VALUES mirror)
_LAB = {
    "spark": "ORG",
    "customer": "PER",
    "window": "LOC",
    "stream": "ORG",
    "filter": "MISC",
}
_LAB_SQL = ", ".join(f"('{s}', '{l}')" for s, l in _LAB.items())

#: labeled first-occurrence mentions of the fixture surfaces (shared CTE)
_LM_SQL = f"""
    surf(NE, label) AS (VALUES {_LAB_SQL}),
    lm AS (
      SELECT d.doc_id, surf.NE, surf.label,
             CAST(instr(d.text, surf.NE) AS BIGINT) AS pos
      FROM documents d CROSS JOIN surf
      WHERE instr(d.text, surf.NE) > 0
    )
"""


def _labeled_mentions(spark, sf_dir):
    """(doc_id, NE, label, pos) — Spark twin of the ``lm`` CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = F.array(
        *[
            F.struct(F.lit(s).alias("NE"), F.lit(l).alias("label"))
            for s, l in _LAB.items()
        ]
    )
    return (
        docs.select("doc_id", "text", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.col("p.NE").alias("NE"),
            F.col("p.label").alias("label"),
            F.expr("instr(text, p.NE)").cast("long").alias("pos"),
        )
        .filter(F.col("pos") > 0)
    )


# ---------------------------------------------------------------------------
# F3: trusted-pattern promotion, both reference variants
# ---------------------------------------------------------------------------

_PROMO_COMBOS = [["grfHot", "grfOrgGaz"], ["grfHot", ""]]

_GRFS_CASE_SQL = """
    CASE doc_id % 3 WHEN 0 THEN ['grfHot', 'grfOrgGaz']
                    WHEN 1 THEN ['grfHot'] ELSE NULL END
"""


def _promo_fixture(spark, sf_dir):
    lm = _labeled_mentions(spark, sf_dir)
    grfs = (
        F.when(F.col("doc_id") % 3 == 0, F.array(F.lit("grfHot"), F.lit("grfOrgGaz")))
        .when(F.col("doc_id") % 3 == 1, F.array(F.lit("grfHot")))
        .otherwise(F.lit(None).cast("array<string>"))
    )
    return lm.select(
        "doc_id", "NE", "pos", F.lit("casEN").alias("method"), grfs.alias("grfs")
    )


def _promo_out(df):
    return df.select(
        "doc_id", "NE", "pos", "method", F.array_join("grfs", ",").alias("grfs")
    )


@query(
    "kg_promote_trusted",
    f"""
    WITH {_LM_SQL},
    g AS (SELECT doc_id, NE, pos, {_GRFS_CASE_SQL} AS grfs FROM lm)
    SELECT doc_id, NE, pos,
           CASE WHEN (grfs[1] IS NOT DISTINCT FROM 'grfHot'
                      AND grfs[2] IS NOT DISTINCT FROM 'grfOrgGaz')
                  OR (grfs[1] IS NOT DISTINCT FROM 'grfHot'
                      AND grfs[2] IS NOT DISTINCT FROM '')
                THEN 'casENOpti' ELSE 'casEN' END AS method,
           array_to_string(grfs, ',') AS grfs
    FROM g
    """,
)
def kg_promote_trusted(spark, sf_dir):
    """F3 as-run semantics (reference: ner_config.py:159-197): the '' slot
    can never equal a missing grf, so only the full 2-grf mentions
    (doc_id%3==0) promote; the padded combo never fires on 1-grf rows."""
    from .operators.consensus import promote_trusted

    return _promo_out(promote_trusted(_promo_fixture(spark, sf_dir), _PROMO_COMBOS))


@query(
    "kg_promote_trusted_legacy",
    f"""
    WITH {_LM_SQL},
    g AS (SELECT doc_id, NE, pos, {_GRFS_CASE_SQL} AS grfs FROM lm)
    SELECT doc_id, NE, pos,
           CASE WHEN (coalesce(grfs[1], '') = 'grfHot'
                      AND coalesce(grfs[2], '') = 'grfOrgGaz')
                  OR (coalesce(grfs[1], '') = 'grfHot'
                      AND coalesce(grfs[2], '') = '')
                THEN 'casENOpti' ELSE 'casEN' END AS method,
           array_to_string(grfs, ',') AS grfs
    FROM g
    """,
)
def kg_promote_trusted_legacy(spark, sf_dir):
    """F3 legacy NaN->'' variant (reference: ner_config_old.py:241-243):
    missing grfs compare as '', so the padded combo DOES fire on the 1-grf
    mentions (doc_id%3==1) — the exact divergence SURVEY.md §2 F3 pins."""
    from .operators.consensus import promote_trusted

    return _promo_out(
        promote_trusted(
            _promo_fixture(spark, sf_dir), _PROMO_COMBOS, legacy_empty_missing=True
        )
    )


# ---------------------------------------------------------------------------
# W2/W3: global ordering with pinned tie-breakers, materialized as order_idx
# ---------------------------------------------------------------------------

_DED_SQL = """
    uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000000, text FROM documents
    ),
    ded AS (
      SELECT min(doc_id) AS doc_uid, text, list_sort(list(doc_id)) AS files_id
      FROM uni WHERE text IS NOT NULL GROUP BY text
    )
"""


@query(
    "kg_order_mentions",
    f"""
    WITH {_DED_SQL},
    surf(NE, label) AS (VALUES {_LAB_SQL}),
    m AS (
      SELECT d.doc_uid, d.files_id, surf.NE, surf.label,
             CAST(instr(d.text, surf.NE) AS BIGINT) AS start,
             CAST(instr(d.text, surf.NE) + length(surf.NE) AS BIGINT) AS "end",
             'casEN' AS method
      FROM ded d CROSS JOIN surf WHERE instr(d.text, surf.NE) > 0
    )
    SELECT doc_uid, NE, start,
           row_number() OVER (
             ORDER BY files_id[1], start, "end", NE, label, method
           ) AS order_idx
    FROM m
    """,
)
def kg_order_mentions(spark, sf_dir):
    """W2+W3 (reference: ner_config.py:45-55): sort by first source id with
    the engine's pinned tie-breakers, exercised on real multi-id groups."""
    from .operators.consensus import order_mentions_indexed

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    uni = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
    ded = (
        uni.filter(F.col("text").isNotNull())
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_uid"),
            F.sort_array(F.collect_list("doc_id")).alias("files_id"),
        )
    )
    pairs = F.array(
        *[
            F.struct(F.lit(s).alias("NE"), F.lit(l).alias("label"))
            for s, l in _LAB.items()
        ]
    )
    m = (
        ded.select("doc_uid", "files_id", "text", F.explode(pairs).alias("p"))
        .select(
            "doc_uid",
            "files_id",
            F.col("p.NE").alias("NE"),
            F.col("p.label").alias("label"),
            F.expr("instr(text, p.NE)").cast("long").alias("start"),
        )
        .filter(F.col("start") > 0)
        .withColumn("end", F.col("start") + F.length("NE"))
        .withColumn("method", F.lit("casEN"))
    )
    return order_mentions_indexed(m).select("doc_uid", "NE", "start", "order_idx")


# ---------------------------------------------------------------------------
# D7: duplicate-mention dedup with a pinned survivor
# ---------------------------------------------------------------------------

@query(
    "kg_dedup_mentions",
    f"""
    WITH {_LM_SQL},
    m AS (
      SELECT doc_id AS doc_uid, NE, label, pos AS start,
             pos + length(NE) AS "end", 'casEN' AS method FROM lm
      UNION ALL  -- later span, never survives
      SELECT doc_id, NE, label, pos + 100, pos + 100 + length(NE), 'spaCy'
      FROM lm WHERE doc_id % 3 = 0
      UNION ALL  -- same span, alphabetically-first method, survives
      SELECT doc_id, NE, label, pos, pos + length(NE), 'aSys'
      FROM lm WHERE doc_id % 4 = 0
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY NE, label, doc_uid ORDER BY start, "end", method
      ) AS rn FROM m
    )
    SELECT doc_uid, NE, label, start, method FROM r WHERE rn = 1
    """,
)
def kg_dedup_mentions(spark, sf_dir):
    """D7 (reference: ner_config_old.py:347-352 drop_duplicates, arbitrary
    row): the engine pins the survivor to min (start, end, method)."""
    from .operators.consensus import dedup_mentions

    lm = _labeled_mentions(spark, sf_dir).withColumnRenamed("doc_id", "doc_uid")
    base = lm.select(
        "doc_uid", "NE", "label",
        F.col("pos").alias("start"),
        (F.col("pos") + F.length("NE")).alias("end"),
        F.lit("casEN").alias("method"),
    )
    later = base.filter(F.col("doc_uid") % 3 == 0).withColumn(
        "start", F.col("start") + 100
    ).withColumn("end", F.col("end") + 100).withColumn("method", F.lit("spaCy"))
    same = base.filter(F.col("doc_uid") % 4 == 0).withColumn("method", F.lit("aSys"))
    m = base.unionByName(later).unionByName(same)
    return dedup_mentions(m).select("doc_uid", "NE", "label", "start", "method")


# ---------------------------------------------------------------------------
# C3: legacy composite-vs-atomic conflict promotion (doc-scoped)
# ---------------------------------------------------------------------------

_FLIP_SQL = """
    CASE label WHEN 'PER' THEN 'ORG' WHEN 'ORG' THEN 'LOC'
               WHEN 'LOC' THEN 'PER' ELSE 'PER' END
"""


@query(
    "kg_legacy_conflict",
    f"""
    WITH {_LM_SQL},
    m AS (
      SELECT doc_id, NE, label, pos AS start, pos + length(NE) AS "end",
             'casEN_spaCy' AS method FROM lm
      UNION ALL  -- second composite span in the same doc (doc-scope probe)
      SELECT doc_id, NE, label, pos + 50, pos + 50 + length(NE), 'casEN_spaCy'
      FROM lm WHERE doc_id % 2 = 0
      UNION ALL  -- atomic rows; label flipped in conflict docs
      SELECT doc_id, NE,
             CASE WHEN doc_id % 7 = 0 THEN ({_FLIP_SQL}) ELSE label END,
             pos, pos + length(NE), 'stanza'
      FROM lm
    ),
    conflicts AS (
      SELECT DISTINCT a.doc_id, a.NE, a.method
      FROM m a JOIN m b
        ON a.doc_id = b.doc_id AND a.NE = b.NE
       AND a.start = b.start AND a."end" = b."end"
      WHERE a.label <> b.label
        AND len(string_split(a.method, '_')) > 1
        AND len(string_split(b.method, '_')) = 1
        AND a.label = 'PER'
        AND lower(a.NE) NOT IN ('stream')
    )
    SELECT m.doc_id, m.NE, m.start, m.label,
           CASE WHEN c.NE IS NOT NULL AND NOT ends_with(m.method, '_priority')
                THEN m.method || '_priority' ELSE m.method END AS method
    FROM m LEFT JOIN conflicts c
      ON m.doc_id = c.doc_id AND m.NE = c.NE AND m.method = c.method
    """,
)
def kg_legacy_conflict(spark, sf_dir):
    """C3 legacy semantics (reference: ner_config_old.py:166-230): a span
    where the composite method's label conflicts with an atomic method's
    promotes EVERY row of that composite method with the same (NE, doc) —
    including the second span the fixture plants 50 chars later."""
    from .operators.consensus import legacy_conflict_promotion

    lm = _labeled_mentions(spark, sf_dir)
    flip = (
        F.when(F.col("label") == "PER", F.lit("ORG"))
        .when(F.col("label") == "ORG", F.lit("LOC"))
        .when(F.col("label") == "LOC", F.lit("PER"))
        .otherwise(F.lit("PER"))
    )
    comp = lm.select(
        F.col("doc_id").alias("doc_uid"), "NE", "label",
        F.col("pos").alias("start"),
        (F.col("pos") + F.length("NE")).alias("end"),
        F.lit("casEN_spaCy").alias("method"),
    )
    comp2 = comp.filter(F.col("doc_uid") % 2 == 0).withColumn(
        "start", F.col("start") + 50
    ).withColumn("end", F.col("end") + 50)
    atom = lm.select(
        F.col("doc_id").alias("doc_uid"), "NE",
        F.when(F.col("doc_id") % 7 == 0, flip).otherwise(F.col("label")).alias("label"),
        F.col("pos").alias("start"),
        (F.col("pos") + F.length("NE")).alias("end"),
        F.lit("stanza").alias("method"),
    )
    m = comp.unionByName(comp2).unionByName(atom)
    out = legacy_conflict_promotion(m, excluded_names=("stream",))
    return out.select(
        F.col("doc_uid").alias("doc_id"), "NE", "start", "label", "method"
    )


# ---------------------------------------------------------------------------
# D6 value counts + G7 excluded-names guard
# ---------------------------------------------------------------------------

@query(
    "kg_value_counts",
    f"""
    WITH {_LM_SQL}
    SELECT 'NE' AS column, NE AS value, count(*) AS count FROM lm GROUP BY NE
    UNION ALL
    SELECT 'label', label, count(*) FROM lm GROUP BY label
    """,
)
def kg_value_counts(spark, sf_dir):
    """D6 diagnostics (reference value_counts logging, ner_config.py:
    verbose branches): per-column frequency report via one union of
    groupBys."""
    from .plans.pipeline import summarize

    return summarize(_labeled_mentions(spark, sf_dir), ["NE", "label"])


@query(
    "kg_excluded_names",
    f"""
    WITH {_LM_SQL}
    SELECT doc_id, NE, label, pos FROM lm
    WHERE lower(NE) NOT IN ('spark', 'filter')
    """,
)
def kg_excluded_names(spark, sf_dir):
    """G7 (reference: config.yaml excluded_names_list; ner_config_old.py:
    201-204): case-insensitive surface guard."""
    from .operators.linking import excluded_names_filter

    return excluded_names_filter(
        _labeled_mentions(spark, sf_dir), ["Spark", "FILTER"]
    )


# ---------------------------------------------------------------------------
# S5 entity linking (north-star stage; blocking join + deterministic argmax)
# ---------------------------------------------------------------------------

from .gaz_fixture import GAZ_ROWS as _GAZ_ROWS  # noqa: E402 (leaf module)
_GAZ_SQL = ", ".join(
    f"('{e}', '{a}', '{l}', {w})" for e, a, _, l, w in _GAZ_ROWS
)


@query(
    "kg_entity_linking",
    f"""
    WITH {_LM_SQL},
    gaz(entity_id, alias, glabel, weight) AS (VALUES {_GAZ_SQL}),
    cand AS (
      SELECT lm.doc_id, lm.NE, lm.label, lm.pos,
             g.entity_id,
             g.weight + CASE WHEN g.glabel = lm.label THEN 0.5 ELSE 0.0 END AS score
      FROM lm LEFT JOIN gaz g ON lm.NE = g.alias
    ),
    best AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id, NE, label, pos
        ORDER BY score DESC NULLS LAST, entity_id ASC
      ) AS rn FROM cand
    )
    SELECT doc_id, NE, label, pos, entity_id,
           round(score, 2) AS link_score
    FROM best WHERE rn = 1
    """,
)
def kg_entity_linking(spark, sf_dir):
    """S5 (north_star; degenerate reference analogue = the label-lookup
    maps, SURVEY.md §2 G3/G4): broadcast alias dictionary, blocking on the
    normalized surface, score = prior + label bonus, deterministic argmax.
    """
    from . import schemas
    from .operators.linking import link_mentions

    lm = _labeled_mentions(spark, sf_dir)
    m = lm.select(
        F.col("doc_id").alias("doc_uid"), "NE", "label",
        F.col("pos").alias("start"),
        (F.col("pos") + F.length("NE")).alias("end"),
    )
    gaz = spark.createDataFrame(_GAZ_ROWS, schema=schemas.GAZETTEER)
    out = link_mentions(m, gaz)
    return out.select(
        F.col("doc_uid").alias("doc_id"), "NE", "label",
        F.col("start").alias("pos"), "entity_id",
        F.round("link_score", 2).alias("link_score"),
    )


# ---------------------------------------------------------------------------
# S6 canonicalization: connected components vs a recursive-CTE oracle
# ---------------------------------------------------------------------------

@query(
    "kg_canonicalize",
    f"""
    WITH RECURSIVE {_LM_SQL},
    gaz(entity_id, alias, glabel, weight) AS (VALUES {_GAZ_SQL}),
    edges AS (
      SELECT DISTINCT 'ent:' || g.entity_id AS src, 'surf:' || lm.NE AS dst
      FROM lm JOIN gaz g ON lm.NE = g.alias
    ),
    sym AS (
      SELECT src, dst FROM edges
      UNION SELECT dst, src FROM edges
    ),
    reach(node, r) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.node
    )
    SELECT substr(node, 5) AS entity_id, min(r) AS canonical_id
    FROM reach WHERE node LIKE 'ent:%'
    GROUP BY node
    """,
)
def kg_canonicalize(spark, sf_dir):
    """S6 (north_star): alias-entity bipartite edges from the linking
    candidates (the ambiguous 'spark' surface bridges its two entities),
    resolved with the large-star/small-star connected components operator;
    the oracle recomputes components as min-reachable-node over a
    recursive CTE — an independent formulation of the same contract."""
    from .operators.canonicalize import connected_components

    lm = _labeled_mentions(spark, sf_dir)
    gaz = spark.createDataFrame(
        [(e, a, l, w) for e, a, _, l, w in _GAZ_ROWS],
        ["entity_id", "alias", "glabel", "weight"],
    )
    edges = (
        lm.join(F.broadcast(gaz), lm.NE == gaz["alias"])
        .select(
            F.concat(F.lit("ent:"), F.col("entity_id")).alias("src"),
            F.concat(F.lit("surf:"), F.col("NE")).alias("dst"),
        )
        .distinct()
    )
    cc = connected_components(edges)
    return cc.filter(F.col("node").startswith("ent:")).select(
        F.expr("substring(node, 5)").alias("entity_id"),
        F.col("component").alias("canonical_id"),
    )


# ---------------------------------------------------------------------------
# U1/A4/A5/G2/B4: CasEN markup parse against an independently computed oracle
# ---------------------------------------------------------------------------

_P1 = ["Marie Curie", "Victor Hugo", "Jean Valjean"]
_P2 = ["Paris", "Lyon", "Nice"]
_P3 = ["X1", "Machin", "Truc-Bidule"]


def _arr_sql(vals):  # 1-based pick by doc_id % len
    lits = ", ".join(f"'{v}'" for v in vals)
    return f"([{lits}])[CAST(doc_id % {len(vals)} AS INT) + 1]"


_CASEN_MENTIONS_SQL = f"""
    pick AS (
      SELECT doc_id,
             {_arr_sql(_P1)} AS ne1, {_arr_sql(_P2)} AS ne2, {_arr_sql(_P3)} AS ne3
      FROM documents
    ),
    expected AS (
      SELECT doc_id, ne1 AS NE, 'PER' AS label,
             CAST(6 AS INT) AS start, CAST(6 + length(ne1) AS INT) AS "end",
             'grfpersPrenomNom' AS grfs
      FROM pick
      UNION ALL
      SELECT doc_id, ne2, 'LOC',
             CAST(12 + length(ne1) AS INT),
             CAST(12 + length(ne1) + length(ne2) AS INT), NULL
      FROM pick
      UNION ALL
      SELECT doc_id, ne3, 'Undefined',
             CAST(19 + length(ne1) + length(ne2) AS INT),
             CAST(19 + length(ne1) + length(ne2) + length(ne3) AS INT),
             'grfInconnu'
      FROM pick
    )
"""


def _casen_markup_col():
    """Markup with a flat tagged entity, a nested one, and an unknown tag:
    ``<doc id="(N\\,)">Alpha <persName grf=..>NE1</persName> beta
    <placeName><name>NE2</name></placeName> gamma <weird grf=..>NE3</weird>.
    </doc>``. Text offsets: NE1 at 6; NE2 at 6+len1+6; NE3 at +7 more."""
    def pick(vals):
        arr = F.array(*[F.lit(v) for v in vals])
        return F.element_at(arr, (F.col("doc_id") % len(vals) + 1).cast("int"))

    ne1, ne2, ne3 = pick(_P1), pick(_P2), pick(_P3)
    return F.concat(
        F.lit('<doc id="('), F.col("doc_id").cast("string"), F.lit('\\,)">'),
        F.lit("Alpha <persName grf=\"grfpersPrenomNom\">"), ne1,
        F.lit("</persName> beta <placeName><name>"), ne2,
        F.lit("</name></placeName> gamma <weird grf=\"grfInconnu\">"), ne3,
        F.lit("</weird>.</doc>"),
    )


def _casen_parsed(spark, sf_dir):
    from .sources.casen_xml import parse_casen_markup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _casen_markup_col().alias("markup")
    )
    parsed = parse_casen_markup(docs)
    m = parsed.select(
        F.col("doc_ids")[0].alias("doc_id"), F.explode("mentions").alias("m")
    )
    return m.select(
        "doc_id",
        F.col("m.NE").alias("NE"),
        F.col("m.label").alias("label"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.array_join("m.grfs", ",").alias("grfs"),
    )


@query(
    "casen_parse_markup",
    f"""
    WITH {_CASEN_MENTIONS_SQL}
    SELECT doc_id, NE, label, start, "end", grfs FROM expected
    """,
)
def casen_parse_markup(spark, sf_dir):
    """U1+A4/A5+G2 (reference parser: casen_config.py:226-314): the
    tokenizer runs over markup constructed from the documents table; the
    oracle computes the expected mentions ARITHMETICALLY (lengths/offsets),
    never touching the parser — text-only offset accumulation, outermost-
    entity nesting, tag->label mapping, grf fallback, Undefined labels, and
    the escaped doc-id tuple parse are all pinned."""
    return _casen_parsed(spark, sf_dir)


@query(
    "casen_undefined_filter",
    f"""
    WITH {_CASEN_MENTIONS_SQL}
    SELECT doc_id, NE, label, start FROM expected WHERE label <> 'Undefined'
    """,
)
def casen_undefined_filter(spark, sf_dir):
    """B4 (reference: casen_config.py label fallback + undefined filter):
    drop mentions whose tag AND grfs resolve to no known label."""
    return _casen_parsed(spark, sf_dir).filter(F.col("label") != "Undefined").select(
        "doc_id", "NE", "label", "start"
    )


@query(
    "casen_corpus_markup",
    f"""
    WITH {_DED_SQL}
    SELECT doc_uid,
           '<doc id="(' ||
           array_to_string(list_transform(files_id, i -> CAST(i AS VARCHAR)), '\\, ')
           || CASE WHEN len(files_id) = 1 THEN '\\,' ELSE '' END
           || ')">' || text || '</doc>' AS markup
    FROM ded
    """,
)
def casen_corpus_markup(spark, sf_dir):
    """A3 serialization (reference writer: casen_config.py:141-176): ids
    joined with escaped commas, trailing escape for singletons — checked on
    real multi-id groups from the shifted-union corpus."""
    from .sources.casen_xml import corpus_markup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    uni = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
    ded = (
        uni.filter(F.col("text").isNotNull())
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_uid"),
            F.sort_array(F.collect_list("doc_id")).alias("files_id"),
        )
    )
    return ded.select(
        "doc_uid", corpus_markup(F.col("files_id"), F.col("text")).alias("markup")
    )


# ---------------------------------------------------------------------------
# G1/G5/G6/G8/G9 scalar functions in one pass
# ---------------------------------------------------------------------------

_UNTAGGED_SQL = r"regexp_replace(tagged, '</?s\b[^>]*>', '', 'g')"


@query(
    "text_scalar_functions",
    f"""
    WITH w AS (
      SELECT doc_id, text,
             '<s id="1">' || replace(text, ' ', '   ') || '</s>' AS tagged
      FROM documents WHERE {HAS_TEXT_SQL}
    )
    SELECT doc_id,
           {normalize_ws_sql(_UNTAGGED_SQL)} AS cleaned,
           substr(text, 6, 20) AS ctx,
           CAST(len(string_split('a_b_c_priority', '_')) AS BIGINT) AS weight,
           printf('part-%05d.parquet', CAST(doc_id % 100 AS INT)) AS fname
    FROM w
    """,
)
def text_scalar_functions(spark, sf_dir):
    """G1 strip_tags + G9 normalize_ws (composed on a tag-wrapped,
    space-doubled copy of each doc — the result must equal the normalized
    original), G6 context_window (start=10, end=20, ±5), G5 method_weight,
    G8 filename templating. All JVM-side expressions; the oracle recomputes
    each from SQL string primitives."""
    from .functions.text import context_window, method_weight, normalize_ws, strip_tags

    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    tagged = F.concat(
        F.lit('<s id="1">'), F.regexp_replace("text", " ", "   "), F.lit("</s>")
    )
    return docs.select(
        "doc_id",
        normalize_ws(strip_tags(tagged)).alias("cleaned"),
        context_window(F.col("text"), F.lit(10), F.lit(20), 5).alias("ctx"),
        method_weight(F.lit("a_b_c_priority")).cast("long").alias("weight"),
        F.format_string(
            "part-%05d.parquet", (F.col("doc_id") % 100).cast("int")
        ).alias("fname"),
    )


# ---------------------------------------------------------------------------
# Relational coverage over the shipped TPC-H tables: multi-table join chain,
# semi/anti joins, rollup (VERDICT round-1 "missing" #4)
# ---------------------------------------------------------------------------

@query(
    "tpch_q3_shipping",
    """
    SELECT o.o_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18, 6))
                          * CAST(1 - l.l_discount AS DECIMAL(9, 6))), 2)
                AS DOUBLE) AS revenue,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderpriority
    """,
)
def tpch_q3_shipping(spark, sf_dir):
    """TPC-H Q3 shape: 3-table join chain with a selective dimension
    filter. The filtered customer side broadcasts (map-side join, no
    shuffle of lineitem by custkey); the orders-lineitem join shuffles on
    the join key once. Revenue is computed AND rounded entirely in DECIMAL
    (cast each factor, multiply, sum, round, only then cast to double):
    double sums differ across engines under reordering, and rounding a
    double differs at exact halves (Spark rounds the shortest decimal
    repr, DuckDB the binary value — seen live on a x.235 sum)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        F.broadcast(c.select("c_custkey"))
        .join(o, F.col("c_custkey") == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(9,6)")
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderpriority")
    )


@query(
    "tpch_semi_join",
    """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def tpch_semi_join(spark, sf_dir):
    """Left-semi join: customers with at least one urgent order. Semi joins
    never duplicate the left side and stream the right side's keys only."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )


@query(
    "tpch_anti_join",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def tpch_anti_join(spark, sf_dir):
    """Left-anti join: customers with NO urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "tpch_rollup_revenue",
    """
    SELECT coalesce(n.n_name, '(all)') AS n_name_g,
           coalesce(o.o_orderpriority, '(all)') AS prio_g,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18, 4))) AS DOUBLE), 2)
             AS total_price,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY ROLLUP (n.n_name, o.o_orderpriority)
    """,
)
def tpch_rollup_revenue(spark, sf_dir):
    """ROLLUP aggregation over a 3-table join (nation x priority subtotals
    + grand total). Group labels coalesce to '(all)' on both sides so
    subtotal rows hash identically."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2
            ).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("n_name_g"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("prio_g"),
            "total_price",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# A6/A7/A8: checkpointed sink + lineage manifest + fingerprint invalidation,
# surfaced to the driver. Fully oracle-checked since the bucket hash became
# md5-based (sources/catalog.with_bucket): DuckDB replays every bucket
# assignment, so per-bucket manifest row counts are plain SQL.
# ---------------------------------------------------------------------------

_MANIFEST_BUCKETS = 8

_MANIFEST_SQL = f"""
    WITH d AS (
      -- docs_as_spans + S0 normalize (NULL span text joins to '')
      SELECT printf('d%09d', doc_id) AS did,
             coalesce({normalize_ws_sql('text')}, '') AS text
      FROM documents
    ),
    s0 AS (   -- stage output bucketed on doc_id: one row per source doc
      SELECT ('0x' || substr(md5(did), 1, 15))::BIGINT % {_MANIFEST_BUCKETS} AS bucket,
             count(*) AS n
      FROM d GROUP BY 1
    ),
    s1d AS (SELECT text FROM d WHERE text <> '' GROUP BY text),
    s1 AS (   -- dedup stage bucketed on text: one row per distinct text
      SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT % {_MANIFEST_BUCKETS} AS bucket,
             count(*) AS n
      FROM s1d GROUP BY 1
    ),
    b AS (SELECT unnest(generate_series(0, {_MANIFEST_BUCKETS - 1})) AS bucket)
    SELECT 's0_normalize' AS stage, b.bucket::INT AS bucket,
           coalesce(s0.n, 0)::BIGINT AS n_rows
    FROM b LEFT JOIN s0 USING (bucket)
    UNION ALL
    SELECT 's1_dedup', b.bucket::INT, coalesce(s1.n, 0)::BIGINT
    FROM b LEFT JOIN s1 USING (bucket)
"""


@query("kg_checkpoint_manifest", _MANIFEST_SQL)
def kg_checkpoint_manifest(spark, sf_dir):
    """A6 partitioned sink + A7 lineage manifest + A8 fingerprint
    invalidation (reference: Excel sink ner_config.py:291-307, @chrono log,
    prepare/archive folders): runs S0+S1 through the bucket-resumable
    Runner into a scratch catalog and returns the manifest rows — stage,
    bucket, and per-bucket row counts are deterministic for a given sf."""
    from .flagship import docs_as_spans
    from .operators.clean import dedup_docs, normalize_docs
    from .plans.runner import Runner
    from .sources.catalog import Catalog

    docs = docs_as_spans(_t(spark, sf_dir, "documents"))
    from .operators.scratch import session_scratch_dir

    out = session_scratch_dir(spark, prefix="kg_manifest")
    runner = Runner(spark=spark, catalog=Catalog(out), n_buckets=_MANIFEST_BUCKETS)
    _, fp0 = runner.stage("s0_normalize", docs, normalize_docs, key="doc_id",
                          input_fingerprint=f"sf:{sf_dir}")
    s0 = runner.catalog.read(spark, "s0_normalize").drop("_bucket")
    runner.stage("s1_dedup", s0, dedup_docs, key="text", input_fingerprint=fp0)
    rows = [
        (r["stage"], int(r["bucket"]), int(r["rows"]))
        for t in ("s0_normalize", "s1_dedup")
        for r in runner.catalog.manifest_rows(t)
    ]
    return spark.createDataFrame(rows, ["stage", "bucket", "n_rows"])


# ---------------------------------------------------------------------------
# S5b: context-coherence disambiguation. An ambiguous alias ("spark" the
# engine vs "spark" the person) is resolved by which candidate's profile
# keywords co-occur in the document. Architecture: tokenize once, equi-join
# doc tokens against the broadcast (keyword -> entity) inverted index, and
# count distinct keyword hits per (doc, entity) — never a cartesian
# "contains" scan; the skewed token key hits a map-side-combinable count.
# ---------------------------------------------------------------------------

_CTX_GAZ = [
    # (entity_id, alias, profile keywords drawn from the corpus vocabulary)
    ("E_spark_engine", "spark", ("query", "join", "scan", "table", "filter")),
    ("E_spark_person", "spark", ("customer", "line", "order", "small", "slow")),
    ("E_stream_tech", "stream", ("window", "batch", "sort", "merge", "hash")),
    ("E_stream_river", "stream", ("big", "fast", "data", "row", "part")),
]

_CTX_ALIAS_SQL = ", ".join(
    f"('{e}', '{a}')" for e, a, _ in _CTX_GAZ
)
_CTX_KW_SQL = ", ".join(
    f"('{e}', '{k}')" for e, _, kws in _CTX_GAZ for k in kws
)


@query(
    "kg_context_disambiguation",
    f"""
    WITH aliases(entity_id, alias) AS (VALUES {_CTX_ALIAS_SQL}),
    kw(entity_id, kw) AS (VALUES {_CTX_KW_SQL}),
    tok AS (
      SELECT DISTINCT doc_id, unnest({tokens_sql('lower(text)')}) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    mention AS (
      SELECT t.doc_id, a.alias, a.entity_id
      FROM tok t JOIN aliases a ON t.t = a.alias
    ),
    hits AS (
      SELECT t.doc_id, k.entity_id, count(DISTINCT k.kw) AS ctx_score
      FROM tok t JOIN kw k ON t.t = k.kw
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT m.doc_id, m.alias, m.entity_id,
             CAST(coalesce(h.ctx_score, 0) AS BIGINT) AS ctx_score
      FROM mention m LEFT JOIN hits h
        ON m.doc_id = h.doc_id AND m.entity_id = h.entity_id
    )
    SELECT doc_id, alias, entity_id, ctx_score
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY doc_id, alias
      ORDER BY ctx_score DESC, entity_id ASC
    ) = 1
    """,
)
def kg_context_disambiguation(spark, sf_dir):
    """Coherence-based linking for ambiguous aliases: the winning candidate
    is the one whose profile keywords co-occur most in the document
    (north_star: "entity linking scores mentions against an alias
    dictionary ... with blocking on normalized surface forms" — here the
    score is contextual, not a static prior)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id",
        F.explode(tokens(F.lower("text"))).alias("t"),
    ).distinct()
    aliases = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(e, a) for e, a, _ in _CTX_GAZ], "entity_id string, alias string"
        )
    )
    kw = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(e, k) for e, _, kws in _CTX_GAZ for k in kws],
            "entity_id string, kw string",
        )
    )
    mention = tok.join(aliases, tok["t"] == aliases["alias"]).select(
        "doc_id", "alias", "entity_id"
    )
    hits = (
        tok.join(kw, tok["t"] == kw["kw"])
        .groupBy("doc_id", "entity_id")
        .agg(F.countDistinct("kw").alias("ctx_score"))
    )
    scored = mention.join(hits, ["doc_id", "entity_id"], "left").select(
        "doc_id",
        "alias",
        "entity_id",
        F.coalesce("ctx_score", F.lit(0)).cast("long").alias("ctx_score"),
    )
    # best candidate per (doc, alias): an aggregation, not a window over
    # the (skewed) alias key alone — the doc_id in the group key keeps the
    # hot alias spread across partitions
    best = F.min(
        F.struct(
            (-F.col("ctx_score")).alias("neg"), F.col("entity_id").alias("e"),
            F.col("ctx_score").alias("s"),
        )
    ).alias("_b")
    return (
        scored.groupBy("doc_id", "alias")
        .agg(best)
        .select(
            "doc_id",
            "alias",
            F.col("_b.e").alias("entity_id"),
            F.col("_b.s").alias("ctx_score"),
        )
    )


# ---------------------------------------------------------------------------
# weak-supervision export: (context_left, mention, context_right, label)
# training examples with a deterministic md5 train/dev/test split — the
# bridge from the KG engine back into tagger training. Pure column
# expressions (substring windows, G6's context technique) and a
# partitioning-independent split, so the export is byte-identical at any
# parallelism.
# ---------------------------------------------------------------------------


@query(
    "kg_training_examples",
    f"""
    WITH surf(NE, label) AS (VALUES {_LAB_SQL}),
    lm AS (
      SELECT d.doc_id, surf.NE, surf.label, d.text,
             CAST(instr(d.text, surf.NE) AS BIGINT) AS pos
      FROM documents d CROSS JOIN surf
      WHERE instr(d.text, surf.NE) > 0
    )
    SELECT doc_id, NE, label,
           substr(text, CAST(greatest(pos - 30, 1) AS INT),
                  CAST(pos - greatest(pos - 30, 1) AS INT)) AS ctx_left,
           substr(text, CAST(pos + length(NE) AS INT), 30) AS ctx_right,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || NE), 1, 15))::BIGINT % 10 < 8
                THEN 'train'
                WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || NE), 1, 15))::BIGINT % 10 = 8
                THEN 'dev' ELSE 'test' END AS split
    FROM lm
    """,
)
def kg_training_examples(spark, sf_dir):
    """Weak-supervision export: each labeled mention becomes a
    (ctx_left, mention, ctx_right, label) training example with a
    deterministic md5-hash 80/10/10 split (never DataFrame.randomSplit,
    whose output depends on partitioning)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pairs = F.array(
        *[
            F.struct(F.lit(s).alias("NE"), F.lit(l).alias("label"))
            for s, l in _LAB.items()
        ]
    )
    lm = (
        docs.select("doc_id", "text", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            "text",
            F.col("p.NE").alias("NE"),
            F.col("p.label").alias("label"),
            F.expr("instr(text, p.NE)").cast("long").alias("pos"),
        )
        .filter(F.col("pos") > 0)
    )
    start = F.greatest(F.col("pos") - 30, F.lit(1))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("NE"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    return lm.select(
        "doc_id",
        "NE",
        "label",
        F.expr("substring(text, int(greatest(pos - 30, 1)),"
               " int(pos - greatest(pos - 30, 1)))").alias("ctx_left"),
        F.expr("substring(text, int(pos + length(NE)), 30)").alias("ctx_right"),
        F.when(bucket < 8, "train").when(bucket == 8, "dev").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# S5 pre-flight: blocking-key skew audit for the linking join. Before a
# 100 TB linking run you audit the block-size distribution — a single hot
# normalized surface ("the", an empty string, a boilerplate token) can put
# the whole join on one reducer. This computes, per block, both sides'
# cardinalities and the exact join fanout from aggregates only (never by
# materialising the join), which is how the audit stays O(distinct keys)
# at any corpus size. The AQE skew-split in the real linking join
# (tests/test_plans.py) is the mitigation; this is the detector.
# ---------------------------------------------------------------------------

_SKEW_HOT_ROWS = 6


@query(
    "kg_linking_skew_audit",
    f"""
    WITH {_LM_SQL},
    gaz(entity_id, alias, glabel, weight) AS (VALUES {_GAZ_SQL}),
    m AS (SELECT NE AS block, count(*) AS n_mentions FROM lm GROUP BY NE),
    g AS (SELECT alias AS block, count(*) AS n_aliases FROM gaz GROUP BY alias)
    SELECT m.block,
           CAST(m.n_mentions AS BIGINT) AS n_mentions,
           CAST(coalesce(g.n_aliases, 0) AS BIGINT) AS n_aliases,
           CAST(m.n_mentions * greatest(coalesce(g.n_aliases, 0), 1)
                AS BIGINT) AS join_out_rows,
           (m.n_mentions * greatest(coalesce(g.n_aliases, 0), 1)
            > {_SKEW_HOT_ROWS}) AS is_hot
    FROM m LEFT JOIN g ON g.block = m.block
    """,
)
def kg_linking_skew_audit(spark, sf_dir):
    """Join-fanout audit per blocking key: probe-side and build-side
    cardinalities and the exact LEFT-join output rows, from two aggregates
    and a broadcast join of the (tiny) per-key count relations."""
    from . import schemas

    lm = _labeled_mentions(spark, sf_dir)
    m = lm.groupBy(F.col("NE").alias("block")).agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    gaz = spark.createDataFrame(_GAZ_ROWS, schema=schemas.GAZETTEER)
    g = gaz.groupBy(F.col("alias").alias("gblock")).agg(
        F.count(F.lit(1)).alias("n_aliases")
    )
    out_rows = F.col("n_mentions") * F.greatest(
        F.coalesce("n_aliases", F.lit(0)), F.lit(1)
    )
    return (
        m.join(F.broadcast(g), m.block == g.gblock, "left")
        .select(
            "block",
            F.col("n_mentions").cast("bigint").alias("n_mentions"),
            F.coalesce("n_aliases", F.lit(0)).cast("bigint").alias("n_aliases"),
            out_rows.cast("bigint").alias("join_out_rows"),
            (out_rows > _SKEW_HOT_ROWS).alias("is_hot"),
        )
    )


# ---------------------------------------------------------------------------
# kg_negative_samples: KG-embedding training export (positives + corrupted
# negatives with known-positive filtering)
# ---------------------------------------------------------------------------

_NEG_K = 2  # corruptions per positive occurrence

_NEG_SQL = f"""
    WITH surf(NE) AS (VALUES {{surf}}),
    d AS (
      SELECT doc_id, text, {tokens_sql('text')} AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    m AS (
      SELECT d.doc_id, surf.NE, instr(d.text, surf.NE) AS pos
      FROM d CROSS JOIN surf
      WHERE instr(d.text, surf.NE) > 0
    ),
    p AS (
      SELECT a.doc_id, a.NE AS subj, b.NE AS obj
      FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.pos < b.pos
    ),
    ps AS (SELECT DISTINCT subj, obj FROM p),
    neg1 AS (
      SELECT p.doc_id, p.subj, p.obj, i.i AS neg_i,
             d.toks[CAST(
               ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR) || ':' || p.subj
                               || ':' || p.obj || ':' || CAST(i.i AS VARCHAR)),
                        1, 15))::BIGINT % len(d.toks) + 1 AS INT)] AS obj_neg
      FROM p JOIN d ON p.doc_id = d.doc_id
      CROSS JOIN (VALUES (0), (1)) AS i(i)
    ),
    neg AS (
      SELECT n.doc_id, n.subj, n.obj_neg AS obj,
             CAST(0 AS BIGINT) AS label, CAST(n.neg_i AS BIGINT) AS neg_i
      FROM neg1 n
      WHERE n.obj_neg <> n.obj AND n.obj_neg <> n.subj
        AND NOT EXISTS (SELECT 1 FROM ps
                        WHERE ps.subj = n.subj AND ps.obj = n.obj_neg)
    )
    SELECT doc_id, subj, obj, CAST(1 AS BIGINT) AS label,
           CAST(-1 AS BIGINT) AS neg_i
    FROM p
    UNION ALL
    SELECT * FROM neg
"""


@query("kg_negative_samples", None)  # SQL attached below (_SURF_SQL import)
def kg_negative_samples(spark, sf_dir):
    """Training export for a TransE-style KG embedding: every co-mention
    positive (subj before obj in text order) plus {_NEG_K} corrupted
    negatives per occurrence. The corruption is deterministic — the
    replacement object is the document's own token at index
    md5(doc:subj:obj:i) % n_tokens — and negatives colliding with ANY
    known positive are filtered by a broadcast anti-join (the filtered-
    negative-sampling step real KG trainers need; at corpus scale the
    positive set aggregates per (subj, obj) and stays broadcast-small
    because the entity vocabulary, not the corpus, bounds it)."""
    from .queries import _SURFACES

    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    d = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("toks")
    )
    m = (
        d.select(
            "doc_id",
            "text",
            F.explode(F.array(*[F.lit(s) for s in _SURFACES])).alias("NE"),
        )
        .withColumn("pos", F.expr("instr(text, NE)").cast("long"))
        .filter(F.col("pos") > 0)
        .select("doc_id", "NE", "pos")
    )
    a = m.select("doc_id", F.col("NE").alias("subj"), F.col("pos").alias("pa"))
    b = m.select("doc_id", F.col("NE").alias("obj"), F.col("pos").alias("pb"))
    p = a.join(b, "doc_id").filter(F.col("pa") < F.col("pb")).select(
        "doc_id", "subj", "obj"
    )
    ps = p.select("subj", "obj").distinct()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    "subj",
                    "obj",
                    F.col("neg_i").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    neg = (
        p.join(d.select("doc_id", "toks"), "doc_id")
        .withColumn("neg_i", F.explode(F.array(*[F.lit(i) for i in range(_NEG_K)])))
        .withColumn(
            "obj_neg",
            F.element_at("toks", (h % F.size("toks") + 1).cast("int")),
        )
        .filter((F.col("obj_neg") != F.col("obj")) & (F.col("obj_neg") != F.col("subj")))
        .join(
            F.broadcast(ps.withColumnRenamed("obj", "obj_neg")),
            ["subj", "obj_neg"],
            "left_anti",
        )
        .select(
            "doc_id",
            "subj",
            F.col("obj_neg").alias("obj"),
            F.lit(0).cast("long").alias("label"),
            F.col("neg_i").cast("long").alias("neg_i"),
        )
    )
    pos_out = p.select(
        "doc_id",
        "subj",
        "obj",
        F.lit(1).cast("long").alias("label"),
        F.lit(-1).cast("long").alias("neg_i"),
    )
    return pos_out.unionByName(neg)


def _attach_neg_sql() -> None:
    from .queries import _SURF_SQL, ORACLE

    ORACLE["kg_negative_samples"] = _NEG_SQL.format(surf=_SURF_SQL)


_attach_neg_sql()
