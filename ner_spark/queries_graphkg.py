"""KG graph-analytics queries over the flagship triple store.

The flagship pipeline materializes (subj, pred, obj, doc_uid, method)
triples (S7); a KG user's next questions are graph-shaped: how much
evidence supports an edge, what is reachable in two hops, how connected is
each entity. These queries answer them with plain DataFrame ops over the
triple table — at production scale they read the materialized Iceberg
triples partition instead of recomputing the pipeline, so every query here
is a join/agg over a pre-partitioned table. The engine models exactly that:
``flagship_triples_vocab`` materializes the triple store ONCE per session
(persisted; flagship._TRI_MEMO) and every query in this batch reads it —
the first consumer pays the pipeline, the rest scan the cached table, the
same read-many shape as the production catalog. A fresh session recomputes
from parquet, so each driver query stays self-contained.

The triple source is ``flagship_triples_vocab`` — the flagship pipeline
with the relation rule bank matched to the driver corpus vocabulary
(flagship.VOCAB_PRED_RULES). Under the default reference bank (French
connective phrases) the relation layer is structurally empty on the
synthetic corpus, which means the rel branch of the generated oracle SQL
had only ever been verified vacuously; these queries exercise it with a
live edge set.

Scale notes:
- the 2-hop self-join shuffles both sides on the shared ``mid`` key — the
  canonical distributed plan for path joins; the DISTINCT edge projection
  runs first so the join input is the edge set, not the (bigger)
  per-document evidence table;
- degree counting is a single map-side-combinable groupBy over a union of
  two narrow projections (no self-join at all);
- support counting is one partial-aggregatable count(distinct) per edge.

Oracles wrap ``build_flagship_sql(VOCAB_PRED_RULES)`` (queries_flagship)
as a subquery, so DuckDB re-derives the SAME triple set through its own
engine and then applies independently written graph SQL on top.

Reference semantics anchored: the reference emits per-document entity
rows (src/utils/ner_config.py:57-197); cross-document evidence
aggregation, relation edges, and path queries are the KG-construction
generalization the north star asks for.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .flagship import _GAZ, VOCAB_PRED_RULES, flagship_triples_vocab
from .queries import normalize_ws_sql, query
from .queries_flagship import build_flagship_sql

_TRI = f"tri AS MATERIALIZED (\n{build_flagship_sql(VOCAB_PRED_RULES)}\n)"

_EDGES = (
    "edges AS (SELECT DISTINCT subj, pred, obj FROM tri "
    "WHERE pred <> 'instance_of')"
)


def _rel_edges(spark, sf_dir):
    """Distinct relation edge set (subj, pred, obj) from the flagship."""
    return (
        flagship_triples_vocab(spark, sf_dir)
        .filter(F.col("pred") != "instance_of")
        .select("subj", "pred", "obj")
        .distinct()
    )


@query(
    "kg_relation_triples",
    f"""
    WITH {_TRI}
    SELECT subj, pred, obj, doc_uid, method
    FROM tri WHERE pred <> 'instance_of'
    """,
)
def kg_relation_triples(spark, sf_dir):
    """S4 relation extraction end-to-end with a rule bank that fires on
    the driver corpus: per-document (subj, pred, obj) relation triples,
    predicate read off the connecting text JVM-side (no UDF), block-pruned
    within-document self-join (operators/relations.py). The oracle replays
    the full pipeline + an unpruned pair join in DuckDB — a non-vacuous
    check of the relation branch."""
    return flagship_triples_vocab(spark, sf_dir).filter(
        F.col("pred") != "instance_of"
    )


@query(
    "kg_triple_support",
    f"""
    WITH {_TRI}
    SELECT subj, pred, obj,
           CAST(count(DISTINCT doc_uid) AS BIGINT) AS support,
           min(method) AS method
    FROM tri
    GROUP BY subj, pred, obj
    """,
)
def kg_triple_support(spark, sf_dir):
    """Evidence aggregation: collapse per-document triples into one edge
    per (subj, pred, obj) with a distinct-document support count — the
    cross-document confidence signal a KG materialize stage attaches to
    every edge. Partial-aggregatable; no join."""
    return flagship_triples_vocab(spark, sf_dir).groupBy(
        "subj", "pred", "obj"
    ).agg(
        F.countDistinct("doc_uid").alias("support"),
        F.min("method").alias("method"),
    )


@query(
    "kg_two_hop_paths",
    f"""
    WITH {_TRI}, {_EDGES}
    SELECT a.subj AS subj, a.pred AS pred1, a.obj AS mid,
           b.pred AS pred2, b.obj AS obj
    FROM edges a JOIN edges b ON a.obj = b.subj
    WHERE a.subj <> b.obj
    GROUP BY ALL
    """,
)
def kg_two_hop_paths(spark, sf_dir):
    """2-hop reachability over the relation graph: distinct paths
    subj -pred1-> mid -pred2-> obj (cycles back to the start excluded).
    The self-join keys both sides on the intermediate entity, so Spark
    hash-partitions the edge set once on ``mid`` — the standard
    distributed path-join plan."""
    e = _rel_edges(spark, sf_dir)
    a = e.select(
        F.col("subj"), F.col("pred").alias("pred1"), F.col("obj").alias("mid")
    )
    b = e.select(
        F.col("subj").alias("mid"), F.col("pred").alias("pred2"),
        F.col("obj").alias("obj"),
    )
    return (
        a.join(b, "mid")
        .filter(F.col("subj") != F.col("obj"))
        .select("subj", "pred1", "mid", "pred2", "obj")
        .distinct()
    )


@query(
    "kg_entity_degree",
    f"""
    WITH {_TRI}, {_EDGES},
    proj AS (
      SELECT subj AS entity, 1 AS o, 0 AS i FROM edges
      UNION ALL
      SELECT obj AS entity, 0 AS o, 1 AS i FROM edges
    )
    SELECT entity,
           CAST(sum(o) AS BIGINT) AS out_degree,
           CAST(sum(i) AS BIGINT) AS in_degree
    FROM proj GROUP BY entity
    """,
)
def kg_entity_degree(spark, sf_dir):
    """Per-entity in/out degree over the distinct relation edge set —
    the hub/authority profile used to spot over-connected entities before
    canonicalization. One explode per edge row instead of a union of two
    projections, so the edge subtree is scanned ONCE (the union form
    duplicated the whole upstream plan); then a single map-side-combinable
    groupBy. No self-join."""
    e = _rel_edges(spark, sf_dir)
    proj = e.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj").alias("entity"),
                    F.lit(1).alias("o"),
                    F.lit(0).alias("i"),
                ),
                F.struct(
                    F.col("obj").alias("entity"),
                    F.lit(0).alias("o"),
                    F.lit(1).alias("i"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    return proj.groupBy("entity").agg(
        F.sum("o").alias("out_degree"), F.sum("i").alias("in_degree")
    )


_GAZ_ALIAS_SQL = ", ".join(f"('{a}', '{e}')" for e, a, _l, _w in _GAZ)


@query(
    "kg_linked_triples",
    f"""
    WITH {_TRI}, {_EDGES},
    gaz(alias, entity_id) AS (VALUES {_GAZ_ALIAS_SQL})
    SELECT coalesce(g1.entity_id, 'surf:' || e.subj) AS subj_id,
           e.pred AS pred,
           coalesce(g2.entity_id, 'surf:' || e.obj) AS obj_id,
           CAST(count(*) AS BIGINT) AS n_edges
    FROM edges e
    LEFT JOIN gaz g1 ON e.subj = g1.alias
    LEFT JOIN gaz g2 ON e.obj = g2.alias
    GROUP BY 1, 2, 3
    """,
)
def kg_linked_triples(spark, sf_dir):
    """S5 applied to S4: rewrite the surface-form edge set onto entity ids
    through the gazetteer alias dictionary (two broadcast left joins —
    the dimension is tiny at any corpus scale, so neither join shuffles
    the edge set), keeping unmatched surfaces as 'surf:'-prefixed ids.
    n_edges counts how many distinct surface edges collapsed onto each
    linked edge — the fan-in the canonicalization stage inherits."""
    gaz = spark.createDataFrame(
        [(a, e) for e, a, _l, _w in _GAZ], ["alias", "entity_id"]
    )
    e = _rel_edges(spark, sf_dir)
    g1 = F.broadcast(gaz.withColumnRenamed("entity_id", "subj_ent"))
    g2 = F.broadcast(
        gaz.withColumnRenamed("entity_id", "obj_ent").withColumnRenamed(
            "alias", "alias2"
        )
    )
    return (
        e.join(g1, e["subj"] == g1["alias"], "left")
        .join(g2, e["obj"] == g2["alias2"], "left")
        .select(
            F.coalesce(F.col("subj_ent"), F.concat(F.lit("surf:"), F.col("subj")))
            .alias("subj_id"),
            "pred",
            F.coalesce(F.col("obj_ent"), F.concat(F.lit("surf:"), F.col("obj")))
            .alias("obj_id"),
        )
        .groupBy("subj_id", "pred", "obj_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def _amb_gaz_rows():
    """The ambiguous-alias dictionary shared with queries_kg (the 'spark'
    surface bridges E_spark and E_spark_person), reused so S6 merging is
    non-trivial — the flagship gazetteer's aliases are all unique, which
    would make canonicalization an identity map. Lives in the leaf module
    gaz_fixture so import order cannot re-enter a partially-initialized
    queries_kg (this module's oracle strings call this at import time)."""
    from .gaz_fixture import GAZ_ROWS

    return GAZ_ROWS


def _amb_gaz_sql() -> str:
    return ", ".join(f"('{e}', '{a}')" for e, a, _n, _l, _w in _amb_gaz_rows())


def _amb_cc_mapping_sql() -> str:
    """``m(alias, canonical)``: surfaces resolved to their connected
    component over the ambiguous alias-entity bipartite graph (recursive
    min-reachable CTE) — the ONE definition shared by kg_canonical_edges
    and kg_node_table so their canonical ids cannot drift apart."""
    return f"""m AS (
      SELECT substr(node, 6) AS alias, canonical FROM (
        WITH RECURSIVE
        agaz(entity_id, alias) AS (VALUES {_amb_gaz_sql()}),
        bip AS (
          SELECT DISTINCT 'ent:' || entity_id AS src, 'surf:' || alias AS dst
          FROM agaz
        ),
        sym AS (SELECT src, dst FROM bip UNION SELECT dst, src FROM bip),
        reach(node, r) AS (
          SELECT src, src FROM sym
          UNION
          SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.node
        )
        SELECT node, min(r) AS canonical FROM reach GROUP BY node
      ) WHERE node LIKE 'surf:%'
    )"""


def _amb_mapping(spark):
    """Engine twin of :func:`_amb_cc_mapping_sql`: the alias -> canonical
    broadcast dimension from the CC operator."""
    from .operators.canonicalize import connected_components

    agaz = spark.createDataFrame(
        [(e, a) for e, a, _n, _l, _w in _amb_gaz_rows()], ["entity_id", "alias"]
    )
    bip = agaz.select(
        F.concat(F.lit("ent:"), F.col("entity_id")).alias("src"),
        F.concat(F.lit("surf:"), F.col("alias")).alias("dst"),
    ).distinct()
    return (
        connected_components(bip)
        .filter(F.col("node").startswith("surf:"))
        .select(
            F.expr("substring(node, 6)").alias("alias"),
            F.col("component").alias("canonical"),
        )
    )


@query(
    "kg_canonical_edges",
    f"""
    WITH {_TRI}, {_EDGES},
    {_amb_cc_mapping_sql()}
    SELECT coalesce(ms.canonical, 'surf:' || e.subj) AS subj_id,
           e.pred AS pred,
           coalesce(mo.canonical, 'surf:' || e.obj) AS obj_id,
           CAST(count(*) AS BIGINT) AS n_edges
    FROM edges e
    LEFT JOIN m ms ON e.subj = ms.alias
    LEFT JOIN m mo ON e.obj = mo.alias
    GROUP BY 1, 2, 3
    """,
)
def kg_canonical_edges(spark, sf_dir):
    """S4 -> S6 stitched end-to-end: relation edges, surfaces resolved
    through the ambiguous alias dictionary, coreferent entities merged by
    the large-star/small-star connected-components operator, and the edge
    set rewritten onto canonical ids. The CC runs over the (tiny here,
    huge in production) alias-entity bipartite graph and its output is a
    mapping DIMENSION broadcast onto the edge set — the edge table itself
    never enters the iterative step, which is what keeps S6 feasible at
    10^12 docs. Oracle recomputes components as min-reachable-node over a
    recursive CTE, then applies the same rewrite in plain SQL."""
    mapping = _amb_mapping(spark)
    e = _rel_edges(spark, sf_dir)
    ms = F.broadcast(mapping.withColumnRenamed("canonical", "subj_canon"))
    mo = F.broadcast(
        mapping.withColumnRenamed("canonical", "obj_canon").withColumnRenamed(
            "alias", "alias2"
        )
    )
    return (
        e.join(ms, e["subj"] == ms["alias"], "left")
        .join(mo, e["obj"] == mo["alias2"], "left")
        .select(
            F.coalesce(F.col("subj_canon"), F.concat(F.lit("surf:"), F.col("subj")))
            .alias("subj_id"),
            "pred",
            F.coalesce(F.col("obj_canon"), F.concat(F.lit("surf:"), F.col("obj")))
            .alias("obj_id"),
        )
        .groupBy("subj_id", "pred", "obj_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


@query(
    "kg_node_table",
    f"""
    WITH {_TRI},
    gaz(alias, entity_id) AS (VALUES {_GAZ_ALIAS_SQL}),
    {_amb_cc_mapping_sql()}
    SELECT t.subj,
           coalesce(m.canonical, g.entity_id, 'surf:' || t.subj) AS node_id,
           coalesce(string_agg(DISTINCT t.obj, '|' ORDER BY t.obj)
                      FILTER (WHERE t.pred = 'instance_of'), '') AS labels,
           CAST(count(*) FILTER (WHERE t.pred <> 'instance_of') AS BIGINT)
             AS n_rel_triples,
           CAST(count(DISTINCT t.doc_uid) AS BIGINT) AS n_docs
    FROM tri t
    LEFT JOIN m ON t.subj = m.alias
    LEFT JOIN gaz g ON t.subj = g.alias
    GROUP BY t.subj, m.canonical, g.entity_id
    """,
)
def kg_node_table(spark, sf_dir):
    """The driver-contract analogue of the CLI's s8_nodes materialize
    stage: one row per subject surface with its canonical id (ambiguous
    alias dictionary -> CC -> broadcast mapping, falling back to the
    linking entity id, then the surface itself), its instance labels, its
    relation-triple count, and its document support. One groupBy on the
    subject key — the same bucket-resumable aggregation shape s8 runs."""
    tri = flagship_triples_vocab(spark, sf_dir)
    gaz = spark.createDataFrame(
        [(a, e) for e, a, _l, _w in _GAZ], ["alias", "entity_id"]
    )
    m = F.broadcast(_amb_mapping(spark))
    g = F.broadcast(gaz.withColumnRenamed("alias", "galias"))
    return (
        tri.join(m, tri["subj"] == m["alias"], "left")
        .join(g, tri["subj"] == g["galias"], "left")
        .groupBy("subj", "canonical", "entity_id")
        .agg(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_set(
                        F.when(F.col("pred") == "instance_of", F.col("obj"))
                    )
                ),
            ).alias("labels"),
            F.sum((F.col("pred") != "instance_of").cast("long")).alias(
                "n_rel_triples"
            ),
            F.countDistinct("doc_uid").alias("n_docs"),
        )
        .select(
            "subj",
            F.coalesce(
                F.col("canonical"),
                F.col("entity_id"),
                F.concat(F.lit("surf:"), F.col("subj")),
            ).alias("node_id"),
            "labels",
            "n_rel_triples",
            "n_docs",
        )
    )


@query(
    "kg_media_edges",
    f"""
    WITH {_TRI},
    md AS (
      SELECT printf('d%09d', doc_id) AS did,
             'img_' || CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000) AS VARCHAR)
               AS media_ref
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
        AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 = 0
    ),
    srcmap AS (
      SELECT printf('d%09d', doc_id) AS did,
             min(printf('d%09d', doc_id)) OVER (
               PARTITION BY {normalize_ws_sql('text')}
             ) AS doc_uid
      FROM documents
      WHERE text IS NOT NULL
        AND {normalize_ws_sql('text')} <> ''
    ),
    ent AS (SELECT DISTINCT doc_uid, subj FROM tri WHERE pred = 'instance_of')
    SELECT m.media_ref, e.subj AS entity,
           CAST(count(DISTINCT m.did) AS BIGINT) AS n_docs
    FROM md m
    JOIN srcmap s ON m.did = s.did
    JOIN ent e ON s.doc_uid = e.doc_uid
    GROUP BY 1, 2
    """,
)
def kg_media_edges(spark, sf_dir):
    """Media-ref spans as first-class KG nodes: every media span from the
    interleaved documents gets 'appears-with' edges to the entities
    asserted in its document, with distinct-source-doc support. The media
    doc ids fan through the dedup uid map (clean's files_id — the same
    fan-out the reference threads through files_id), then join the
    instance-entity set on doc_uid; both joins are equi-joins on the doc
    key the consensus output is already partitioned by."""
    from .flagship import _flagship_stages
    from .queries import _t
    from .queries_spans import interleaved_spans

    docs = _t(spark, sf_dir, "documents")
    media = (
        interleaved_spans(docs)
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(
            F.format_string("d%09d", F.col("doc_id")).alias("did"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )
    # the dedup uid map is the memoized S1 clean output (same stage table
    # every flagship consumer reads; recomputing it here duplicated the scan)
    uid_map = _flagship_stages(spark, sf_dir)["clean"].select(
        "doc_uid", F.explode("files_id").alias("did")
    )
    ent = (
        flagship_triples_vocab(spark, sf_dir)
        .filter(F.col("pred") == "instance_of")
        .select("doc_uid", "subj")
        .distinct()
    )
    return (
        media.join(uid_map, "did")
        .join(ent, "doc_uid")
        .groupBy("media_ref", F.col("subj").alias("entity"))
        .agg(F.countDistinct("did").alias("n_docs"))
    )
