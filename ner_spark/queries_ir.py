"""IR / corpus-mining coverage batch: collocation mining, a two-tier
inverted index, MOSS-style winnowing fingerprints, C4-style global chunk
dedup, and label-propagation communities.

All five are standard large-corpus constructions (reference scope: the
NER repo mines per-document mention statistics, src/utils/ner_config.py;
these generalize that to corpus-level statistics a training-data pipeline
needs). Every query is exact-integer or md5-replayable so the DuckDB
oracle matches bit-for-bit.

Scale notes per query:

- ``collocation_pmi``: PMI in *exact scaled-integer* form — two BIGINT
  floor-division steps, documented as the metric itself, so no log()/float
  drift between engines. Corpus totals attach as 1-row broadcast scalars
  (the tfidf_topk pattern: a pre-aggregated single row, O(rows) at any
  scale); unigram counts join on the word key (vocabulary ≪ corpus — an
  ordinary shuffle hash join); the global top-50 is TakeOrderedAndProject
  (per-partition heaps + driver merge of 50-row tops, never a global sort).
- ``text_inverted_index``: the two-tier skew-safe design. Pass 1 computes
  per-term stats only (df/cf/min/max/sum — all map-side-combinable). Pass
  2 materializes sorted delta-encoded postings ONLY for terms with
  df <= POSTINGS_CAP, selected by a semi-join BEFORE the collect_list, so
  a stop-word's posting list (billions of doc ids at 100 TB) is never
  built: hot terms keep stats + checksum, exactly how production indexes
  shard hot postings out-of-band.
- ``dedup_winnowing``: winnowing (Schleimer et al., SIGMOD 2003) — the
  min-hash-per-window fingerprint selection MOSS uses. The rightmost-min
  tie rule is encoded arithmetically (key = h30 * WINNOW_POS_BITS + (WINNOW_POS_BITS-1-pos), min
  over a ROWS window) so both engines pick identical fingerprints. Windows
  are per-document Spark window frames (partitioned by doc — no global
  sort); the pair join groups by selected hash with a df cap so a
  boilerplate fingerprint shared by half the corpus can't quadratically
  explode the self-join (same anti-join guard as the n-gram dedup path).
- ``dedup_chunk_global``: C4/RefinedWeb-style *global* chunk dedup —
  every doc splits into fixed 8-token chunks, a chunk survives only at its
  first corpus occurrence (min (doc_id, chunk_idx)), and each doc reports
  how much of it survived plus an md5 of its surviving text. The keeper
  choice is one window row_number partitioned by chunk text (two-phase
  agg; a hot chunk's group is one reducer's worth of *small* rows, and at
  extreme scale the same salting used elsewhere applies).
- ``wordgraph_labelprop``: 2 synchronous rounds of weighted mode-label
  propagation over the undirected bigram graph — the community-detection
  companion to pagerank/khop/CC. Each round is one (node,label) aggregate
  plus a per-node argmax window (partitioned by node), deterministic via
  the (weight desc, label asc) tie-break; the oracle unrolls the same two
  rounds in SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import has_text, ngrams, tokens
from .queries import HAS_TEXT_SQL, _t, ngrams_sql, query, tokens_sql


def _base_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    return docs.select("doc_id", tokens(F.col("text")).alias("__toks"))


# ---------------------------------------------------------------------------
# collocation_pmi: exact scaled-integer pointwise mutual information
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 50

_PMI_SQL = f"""
    WITH b AS (
      SELECT {tokens_sql('text')} AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    uni AS (
      SELECT t AS w, count(*) AS c
      FROM (SELECT unnest(toks) AS t FROM b) GROUP BY 1
    ),
    tot AS (SELECT sum(c) AS n_uni FROM uni),
    bg AS (
      SELECT w1, w2, count(*) AS c_xy
      FROM (SELECT unnest({ngrams_sql('toks', 2, ('w1', 'w2'))}, recursive := true)
            FROM b)
      GROUP BY 1, 2
    ),
    btot AS (SELECT sum(c_xy) AS n_bi FROM bg),
    scored AS (
      SELECT w1, w2, c_xy, u1.c AS c_w1, u2.c AS c_w2,
             ((c_xy * 1000000 * n_uni) // (u1.c * u2.c) * n_uni) // n_bi
               AS pmi_ppm
      FROM bg
      JOIN uni u1 ON bg.w1 = u1.w
      JOIN uni u2 ON bg.w2 = u2.w
      CROSS JOIN tot CROSS JOIN btot
      WHERE c_xy >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_xy, c_w1, c_w2, CAST(pmi_ppm AS BIGINT) AS pmi_ppm
    FROM scored
    ORDER BY pmi_ppm DESC, w1, w2
    LIMIT {_PMI_TOPK}
"""


@query("collocation_pmi", _PMI_SQL)
def collocation_pmi(spark, sf_dir):
    """Top-50 bigram collocations by exact integer-ppm PMI.

    The score IS the two-step floor arithmetic (both engines replay it
    verbatim): a = (c_xy * 1e6 * N_uni) // (c_w1 * c_w2);
    pmi_ppm = (a * N_uni) // N_bi — monotone in the real PMI, every
    intermediate < 2^63 at any corpus where token counts < ~10^9 per word
    (beyond that the same two steps run in DECIMAL(38,0))."""
    base = _base_tokens(spark, sf_dir)
    uni = (
        base.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_uni"))
    bg_all = (
        base.select(F.inline(ngrams("__toks", 2, ("w1", "w2"))))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    # N_bi is the total over ALL bigrams — computed before the min-count cut
    btot = bg_all.agg(F.sum("c_xy").alias("n_bi"))
    bg = bg_all.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_w2"))
    scored = (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .withColumn(
            "pmi_ppm",
            F.expr(
                "(c_xy * 1000000 * n_uni div (c_w1 * c_w2)) * n_uni div n_bi"
            ).cast("long"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi_ppm"), "w1", "w2")
        .limit(_PMI_TOPK)
        .select("w1", "w2", "c_xy", "c_w1", "c_w2", "pmi_ppm")
    )


# ---------------------------------------------------------------------------
# text_inverted_index: two-tier postings (delta-encoded cold, stats-only hot)
# ---------------------------------------------------------------------------

_POSTINGS_CAP = 16

_INVIDX_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS term
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    per_doc AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    stats AS (
      SELECT term,
             count(*) AS df,
             CAST(sum(tf) AS BIGINT) AS cf,
             min(doc_id) AS min_doc,
             max(doc_id) AS max_doc,
             CAST(sum(doc_id) AS BIGINT) AS doc_sum
      FROM per_doc GROUP BY 1
    ),
    cold AS (
      SELECT p.term, list_sort(list(p.doc_id)) AS ids
      FROM per_doc p JOIN stats s ON p.term = s.term
      WHERE s.df <= {_POSTINGS_CAP}
      GROUP BY 1
    ),
    enc AS (
      SELECT term,
             array_to_string(
               list_prepend(ids[1],
                 list_transform(range(2, len(ids) + 1), i -> ids[i] - ids[i-1])),
               ',') AS postings_delta
      FROM cold
    )
    SELECT s.term, s.df, s.cf, s.min_doc, s.max_doc, s.doc_sum,
           e.postings_delta
    FROM stats s LEFT JOIN enc e ON s.term = e.term
"""


@query("text_inverted_index", _INVIDX_SQL)
def text_inverted_index(spark, sf_dir):
    """Two-tier inverted index: per-term df/cf/min/max/id-checksum for ALL
    terms, sorted delta-encoded postings only for terms with
    df <= POSTINGS_CAP. The semi-join runs BEFORE collect_list, so a
    stop-word's postings are never materialized anywhere."""
    base = _base_tokens(spark, sf_dir)
    per_doc = (
        base.select("doc_id", F.explode("__toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("doc_id").alias("doc_sum"),
    )
    cold_terms = stats.filter(F.col("df") <= _POSTINGS_CAP).select("term")
    postings = (
        per_doc.join(cold_terms, "term", "left_semi")
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .select(
            "term",
            F.array_join(
                F.concat(
                    F.slice("ids", 1, 1),
                    # sequence(1, 0) would run DESCENDING for df=1 — guard it
                    F.expr(
                        "CASE WHEN size(ids) >= 2 THEN"
                        " transform(sequence(1, size(ids) - 1),"
                        " i -> ids[i] - ids[i-1])"
                        " ELSE array() END"
                    ),
                ),
                ",",
            ).alias("postings_delta"),
        )
    )
    return stats.join(postings, "term", "left").select(
        "term", "df", "cf", "min_doc", "max_doc", "doc_sum", "postings_delta"
    )


# ---------------------------------------------------------------------------
# dedup_winnowing: MOSS fingerprint selection + shared-fingerprint pairs
# ---------------------------------------------------------------------------

_WIN_K = 4  # k-gram length (tokens)
_WIN_W = 5  # winnowing window (k-grams)
_WIN_DF_CAP = 64  # fingerprint shared by more docs than this is boilerplate
_WIN_MIN_SHARED = 3
# shared with the engine so the packed-key layout cannot diverge
from .operators.dedup import WINNOW_HASH_MOD as _HASH_MOD  # noqa: E402
from .operators.dedup import WINNOW_POS_BITS as _POS_BITS  # noqa: E402

_WINNOW_SQL = f"""
    WITH b AS (
      SELECT doc_id, {ngrams_sql('toks', _WIN_K)} AS grams
      FROM (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
            WHERE {HAS_TEXT_SQL})
    ),
    kg AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT % {_HASH_MOD} AS h30, m
      FROM (SELECT doc_id, unnest(grams) AS gram,
                   generate_subscripts(grams, 1) AS pos, len(grams) AS m FROM b)
    ),
    keyed AS (
      SELECT doc_id, pos, m,
             h30 * {_POS_BITS} + ({_POS_BITS} - 1 - pos) AS key
      FROM kg
    ),
    wins AS (
      SELECT doc_id, m, pos,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS wmin
      FROM keyed
    ),
    fp AS (
      SELECT DISTINCT doc_id, wmin // {_POS_BITS} AS h30
      FROM wins
      WHERE pos <= greatest(1, m - {_WIN_W} + 1)
    ),
    hot AS (
      SELECT h30 FROM fp GROUP BY 1 HAVING count(*) > {_WIN_DF_CAP}
    ),
    cold AS (
      SELECT * FROM fp WHERE h30 NOT IN (SELECT h30 FROM hot)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM cold a JOIN cold b ON a.h30 = b.h30 AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_WIN_MIN_SHARED}
"""


@query("dedup_winnowing", _WINNOW_SQL)
def dedup_winnowing(spark, sf_dir):
    """Winnowing fingerprints (k={_WIN_K} token-grams, window w={_WIN_W},
    rightmost-min tie rule; operators/dedup.winnow_fingerprints) and the
    doc pairs sharing >= {_WIN_MIN_SHARED} selected fingerprints; per-doc
    frames only, df-capped pair join."""
    from .operators.dedup import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=_WIN_K, w=_WIN_W)
    hot = fp.groupBy("h30").agg(F.count(F.lit(1)).alias("fdf")).filter(
        F.col("fdf") > _WIN_DF_CAP
    )
    cold = fp.join(F.broadcast(hot), "h30", "left_anti")
    a = cold.select(F.col("doc_id").alias("doc_a"), "h30")
    b = cold.select(F.col("doc_id").alias("doc_b"), "h30")
    return (
        a.join(b, "h30")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# dedup_chunk_global: C4-style global chunk dedup with per-doc attrition
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 8

_CHUNK_SQL = f"""
    WITH b AS (
      SELECT doc_id, {tokens_sql('text')} AS toks
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    ch AS (
      SELECT doc_id, c AS chunk_idx,
             array_to_string(
               toks[c * {_CHUNK_TOKENS} + 1 : (c + 1) * {_CHUNK_TOKENS}], ' ')
               AS chunk
      FROM b, unnest(range(0, (len(toks) + {_CHUNK_TOKENS} - 1)
                              // {_CHUNK_TOKENS})) AS u(c)
    ),
    keep AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_idx) = 1 AS keeper
      FROM ch
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(count(*) FILTER (WHERE keeper) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(chunk, '|' ORDER BY chunk_idx)
                          FILTER (WHERE keeper), '')) AS kept_md5
    FROM keep GROUP BY 1
"""


@query("dedup_chunk_global", _CHUNK_SQL)
def dedup_chunk_global(spark, sf_dir):
    """Global 8-token-chunk dedup: a chunk survives only at its first
    corpus occurrence (min (doc_id, chunk_idx)); per doc, how many chunks
    survive and the md5 of the surviving text in original order."""
    base = _base_tokens(spark, sf_dir)
    ch = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(__toks) + {_CHUNK_TOKENS} - 1)"
                f" div {_CHUNK_TOKENS} - 1),"
                f" c -> array_join(slice(__toks, c * {_CHUNK_TOKENS} + 1,"
                f" {_CHUNK_TOKENS}), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    keep = ch.withColumn("keeper", F.row_number().over(w) == 1)
    return keep.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("keeper").cast("long")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keeper"),
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                "|",
            )
        ).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# wordgraph_labelprop: weighted mode-label propagation (2 rounds)
# ---------------------------------------------------------------------------


def _labelprop_oracle_sql(rounds: int = 2) -> str:
    head = f"""
    WITH b AS (SELECT {tokens_sql('text')} AS toks FROM documents WHERE text IS NOT NULL),
    bg AS (
      SELECT * FROM (SELECT unnest({ngrams_sql('toks', 2, ('u', 'v'))}, recursive := true)
                     FROM b)
      WHERE u <> v
    ),
    d AS (SELECT u, v, count(*) AS w FROM bg GROUP BY 1, 2),
    e AS (
      SELECT u, v, sum(w) AS w FROM (
        SELECT u, v, w FROM d UNION ALL SELECT v AS u, u AS v, w FROM d
      ) GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT u AS node FROM e),
    l0 AS (SELECT node, node AS label FROM nodes)"""
    body = ""
    for i in range(1, rounds + 1):
        body += f""",
    votes{i} AS (
      SELECT e.u AS node, l.label, sum(e.w) AS wsum
      FROM e JOIN l{i - 1} l ON e.v = l.node
      GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY wsum DESC, label ASC) AS rk
        FROM votes{i}
      ) WHERE rk = 1
    )"""
    return head + body + f"\n    SELECT node, label FROM l{rounds}"


@query("wordgraph_labelprop", _labelprop_oracle_sql(2))
def wordgraph_labelprop(spark, sf_dir):
    """2 synchronous rounds of weighted mode-label propagation over the
    undirected bigram graph (self-loops dropped): each node takes the
    label with the highest incident edge weight among its neighbors'
    current labels, ties to the lexicographically smallest label."""
    from .operators.graph import label_propagation

    edges = (
        _base_tokens(spark, sf_dir)
        .select(F.inline(ngrams("__toks", 2, ("src", "dst"))))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return label_propagation(edges, rounds=2).select("node", "label")
