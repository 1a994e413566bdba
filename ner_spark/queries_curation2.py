"""The curation FLAGSHIP: the end-to-end training-corpus funnel as one DAG.

``kg_flagship_triples`` is the headline composition for the KG side; this
is its twin for the training-data side — the decision pipeline a corpus
actually runs, composed from operators that each already exist (and are
each separately oracle-checked) into ONE attributed funnel:

    empty-text gate
      -> exact dedup (sha2 groupBy, survivor = min doc_id)
      -> near-dup dedup over the exact survivors
         (MinHash LSH candidates -> exact-Jaccard verify -> connected
          components -> survivor = min of cluster)
      -> Gopher-style quality gates (min tokens, mean word length,
         alphabetic ratio)
      -> kept

Every document receives EXACTLY ONE outcome — the first gate that drops
it — and the output is the per-(source, outcome) budget report (doc and
token counts) a curation run publishes: which sources lose how much to
which gate, and how many training tokens survive.

Scale shape: the exact pass groups by sha2(text) (constant-width shuffle
key, never the text itself); the near-dup pass runs on exact survivors
only (strictly smaller input than the standing dedup_cluster_survivors
query) with the O(docs x bands) candidate path; CC is the
alternating-star operator (map-side-combinable min aggregates); the
quality gates and the final attribution are one pass. The oracle replays
the ENTIRE funnel — including the recursive-CTE connected components —
in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.text import has_text, tokens
from .oracle_minhash import minhash_cand_cte
from .operators.scratch import scratch_persist
from .queries import HAS_TEXT_SQL, WS_CLASS, _SHINGLE_SQL, _t, query, tokens_sql

_CF_THRESHOLD = 0.1
_CF_K = 16
_CF_BANDS = 4

# shingles restricted to exact-dedup survivors (min doc_id per text group)
_CF_KEEPER_SHINGLES = f"""
      SELECT s.doc, s.sh FROM ({_SHINGLE_SQL}) s
      JOIN (SELECT min(doc_id) AS doc FROM documents
            WHERE {HAS_TEXT_SQL}
            GROUP BY text) k ON k.doc = s.doc
"""

_CF_SQL = f"""
    WITH RECURSIVE {minhash_cand_cte(_CF_KEEPER_SHINGLES, _CF_K, _CF_BANDS)},
    posting AS (SELECT doc, unnest(sh) AS shingle FROM sh),
    nsh AS (SELECT doc, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS inter
      FROM cand c
      JOIN posting pa ON pa.doc = c.doc_a
      JOIN posting pb ON pb.doc = c.doc_b AND pb.shingle = pa.shingle
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN nsh na ON na.doc = i.doc_a
      JOIN nsh nb ON nb.doc = i.doc_b
      WHERE round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4)
            >= {_CF_THRESHOLD}
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.node
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    near_dropped AS (SELECT node FROM comp WHERE node <> component),
    keepers AS (SELECT min(doc_id) AS doc FROM documents
                WHERE {HAS_TEXT_SQL}
                GROUP BY text),
    f AS (
      SELECT doc_id, source,
             NOT ({HAS_TEXT_SQL}) AS is_empty,
             CASE WHEN {HAS_TEXT_SQL} THEN len({tokens_sql('text')})
                  ELSE 0 END AS n_tok,
             CASE WHEN text IS NULL THEN 0
                  ELSE length(regexp_replace(text, '{WS_CLASS}+', '', 'g')) END AS n_ink,
             CASE WHEN text IS NULL THEN 0
                  ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END
               AS n_alpha,
             coalesce(length(text), 0) AS n_len
      FROM documents
    ),
    o AS (
      SELECT source, n_tok,
             CASE
               WHEN is_empty THEN 'empty'
               WHEN doc_id NOT IN (SELECT doc FROM keepers) THEN 'exact_dup'
               WHEN doc_id IN (SELECT node FROM near_dropped) THEN 'near_dup'
               WHEN NOT (n_tok >= 20
                         AND CAST(n_ink AS DOUBLE) / n_tok >= 3.0
                         AND CAST(n_ink AS DOUBLE) / n_tok <= 12.0
                         AND CAST(n_alpha AS DOUBLE) / n_len >= 0.6)
                 THEN 'low_quality'
               ELSE 'kept'
             END AS outcome
      FROM f
    )
    SELECT source, outcome,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM o GROUP BY 1, 2
"""


@query("curation_flagship", _CF_SQL)
def curation_flagship(spark, sf_dir):
    """End-to-end curation funnel with per-(source, outcome) budget
    attribution: empty gate -> exact dedup (sha2 groupBy, min-doc
    survivor) -> near-dup CC survivorship over the exact survivors
    (MinHash candidates + exact verify + alternating-star CC) -> quality
    gates -> kept; each doc gets the FIRST gate that drops it. The
    DuckDB oracle replays the whole funnel including recursive-CTE
    connected components."""
    from .operators.canonicalize import connected_components
    from .operators.dedup import minhash_verified_pairs

    docs = _t(spark, sf_dir, "documents")
    nonempty = has_text(F.col("text"))
    # exact pass: constant-width shuffle key (sha2), survivor = min doc_id
    # keepers feeds the semi-join AND the final attribution join;
    # near_dropped's lineage is the whole LSH+verify+CC subtree and it
    # feeds the attribution join after the CC probe already ran it —
    # persist both (|docs|- and |dup|-sized) so the funnel's expensive
    # half executes once
    keepers = (
        docs.filter(nonempty)
        .groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("is_keeper"))
    )
    keepers = scratch_persist(keepers)
    kept_docs = docs.join(keepers.select("doc_id"), "doc_id", "left_semi")
    pairs = minhash_verified_pairs(
        kept_docs,
        threshold=_CF_THRESHOLD,
        k=_CF_K,
        bands=_CF_BANDS,
    )
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    near_dropped = (
        cc.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(True).alias("is_near_dup"))
    )
    near_dropped = scratch_persist(near_dropped)
    n_tok = F.when(~nonempty, F.lit(0)).otherwise(
        F.size(tokens(F.col("text")))
    )
    n_ink = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.length(F.regexp_replace("text", r"\s+", ""))
    )
    n_alpha = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    )
    n_len = F.coalesce(F.length("text"), F.lit(0))
    f = docs.select(
        "doc_id",
        "source",
        (~nonempty).alias("is_empty"),
        n_tok.alias("n_tok"),
        n_ink.alias("n_ink"),
        n_alpha.alias("n_alpha"),
        n_len.alias("n_len"),
    )
    quality_ok = (
        (F.col("n_tok") >= 20)
        & (F.col("n_ink").cast("double") / F.col("n_tok") >= 3.0)
        & (F.col("n_ink").cast("double") / F.col("n_tok") <= 12.0)
        & (F.col("n_alpha").cast("double") / F.col("n_len") >= 0.6)
    )
    outcome = (
        F.when(F.col("is_empty"), "empty")
        .when(F.col("is_keeper").isNull(), "exact_dup")
        .when(F.col("is_near_dup").isNotNull(), "near_dup")
        .when(~quality_ok, "low_quality")
        .otherwise("kept")
    )
    o = (
        f.join(keepers, "doc_id", "left")
        .join(near_dropped, "doc_id", "left")
        .select("source", "n_tok", outcome.alias("outcome"))
    )
    return o.groupBy("source", "outcome").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
