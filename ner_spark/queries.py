"""Driver-facing query registry.

Each entry pairs a Spark DataFrame callable ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL oracle for DuckDB over the same parquet tables
(``None`` for UDF-backed queries the driver checks rows-only). Column names
and types are aligned on both sides — aggregates are aliased identically and
counts/positions cast to bigint so the value-hash comparison is exact.

The registry grows with SURVEY.md §2 coverage; keys are stable identifiers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import has_text, tokens

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def query(name: str, sql: str | None = None):
    def deco(fn):
        Q[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# DuckDB twins of functions.text: each rule the oracles share, written once
# ---------------------------------------------------------------------------

#: Java's ``\s``, the class Spark's regexes use; RE2's ``\s`` lacks ``\x0B``
WS_CLASS = r"[ \t\n\x0B\f\r]"


def tokens_sql(x: str) -> str:
    """DuckDB twin of ``functions.text.tokens`` over the SQL expression
    ``x``. ``trim(x, ' ')`` strips U+0020 only, as Spark's ``trim`` does;
    DuckDB's bare ``trim`` also strips Unicode spaces."""
    return f"string_split_regex(trim({x}, ' '), '{WS_CLASS}+')"


def normalize_ws_sql(x: str) -> str:
    """DuckDB twin of ``functions.text.normalize_ws``."""
    return f"trim(regexp_replace({x}, '{WS_CLASS}+', ' ', 'g'), ' ')"


#: DuckDB twin of ``functions.text.has_text`` over the ``text`` column
HAS_TEXT_SQL = "text IS NOT NULL AND length(trim(text, ' ')) > 0"


def ngrams_sql(toks: str, n: int, fields: tuple[str, ...] = ()) -> str:
    """DuckDB twin of ``functions.text.ngrams``: the in-order word n-grams
    of the token list ``toks`` as space-joined strings, or with ``fields``
    as structs (expand with ``unnest(..., recursive := true)``). Fewer
    than ``n`` tokens gives ``[]`` (``generate_series(1, 0)`` is empty)."""
    parts = [f"{toks}[i + {j}]" if j else f"{toks}[i]" for j in range(n)]
    if fields:
        pairs = zip(fields, parts, strict=True)
        gram = "{" + ", ".join(f"'{f}': {p}" for f, p in pairs) + "}"
    else:
        gram = f"concat_ws(' ', {', '.join(parts)})"
    return f"list_transform(generate_series(1, len({toks}) - {n - 1}), i -> {gram})"


# ---------------------------------------------------------------------------
# KG / reference operators over the documents table
# ---------------------------------------------------------------------------

@query(
    "kg_clean_dedup",
    """
    SELECT min(doc_id) AS doc_uid,
           text,
           array_to_string(list_sort(list(doc_id)), ',') AS files_id,
           count(*) AS n_src
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
    GROUP BY text
    """,
)
def kg_clean_dedup(spark, sf_dir):
    """D1/B1: dedup-groupby with ordered id collect (epg_cleaner analogue)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_uid"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("files_id"),
            F.count(F.lit(1)).alias("n_src"),
        )
        .select("doc_uid", "text", "files_id", "n_src")
    )


_SURFACES = ["spark", "customer", "window", "stream", "filter"]
_SURF_SQL = ",".join(f"('{s}')" for s in _SURFACES)


def _mention_systems(spark, sf_dir):
    """First-occurrence mentions found by three pseudo-systems (C1 fixture)."""
    docs = _t(spark, sf_dir, "documents")
    m = (
        docs.select("doc_id", "text", F.explode(F.array(*[F.lit(s) for s in _SURFACES])).alias("NE"))
        .withColumn("pos", F.expr("instr(text, NE)").cast("long"))
        .filter(F.col("pos") > 0)
        .select("doc_id", "NE", "pos")
    )
    sys1 = m.select("doc_id", "NE", "pos", F.lit(0).alias("rank"), F.lit("casEN").alias("src"))
    sys2 = m.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "NE", "pos", F.lit(1).alias("rank"), F.lit("spaCy").alias("src")
    )
    sys3 = m.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", "NE", "pos", F.lit(2).alias("rank"), F.lit("stanza").alias("src")
    )
    return sys1.unionByName(sys2).unionByName(sys3)


_CONSENSUS_SQL_BODY = f"""
    WITH surf(NE) AS (VALUES {_SURF_SQL}),
    m AS (
      SELECT d.doc_id, surf.NE, instr(d.text, surf.NE) AS pos
      FROM documents d CROSS JOIN surf
      WHERE instr(d.text, surf.NE) > 0
    ),
    sys AS (
      SELECT doc_id, NE, pos, 0 AS rank, 'casEN' AS src FROM m
      UNION ALL
      SELECT doc_id, NE, pos, 1, 'spaCy' FROM m WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT doc_id, NE, pos, 2, 'stanza' FROM m WHERE doc_id % 7 <> 0
    )
    SELECT doc_id, NE, pos,
           string_agg(src, '_' ORDER BY rank) AS method,
           count(*) AS n_sys
    FROM sys GROUP BY doc_id, NE, pos
"""


@query("kg_consensus_fusion", _CONSENSUS_SQL_BODY)
def kg_consensus_fusion(spark, sf_dir):
    """C1/F4: union + groupBy provenance fusion — the engine's one-shuffle
    reformulation of the reference's iterated full-outer join fold
    (reference: ner_config.py:57-117), oracle-checked against plain SQL."""
    sys = _mention_systems(spark, sf_dir)
    # declarative rank-slot mins + concat_ws (skips absent slots), NOT
    # array_sort+transform over collect_list: interpreted HOF evaluation on
    # aggregation results anti-scales with task threads (see
    # consensus.fuse_ranked for the measurement)
    return (
        sys.repartition("doc_id")
        .groupBy("doc_id", "NE", "pos")
        .agg(
            *[
                F.min(F.when(F.col("rank") == i, F.col("src"))).alias(f"_s{i}")
                for i in range(3)
            ],
            F.count(F.lit(1)).alias("n_sys"),
        )
        .withColumn("method", F.concat_ws("_", "_s0", "_s1", "_s2"))
        .select("doc_id", "NE", "pos", "method", "n_sys")
    )


@query(
    "kg_priority_vote",
    f"""
    WITH cons AS ({_CONSENSUS_SQL_BODY}),
    w1 AS (
      SELECT doc_id, NE, pos, method, n_sys,
             count(*) OVER (PARTITION BY doc_id, NE) AS grp,
             max(n_sys) OVER (PARTITION BY doc_id, NE) AS maxw
      FROM cons
    ),
    w2 AS (
      SELECT *, sum(CASE WHEN n_sys = maxw THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id, NE) AS winners
      FROM w1
    )
    SELECT doc_id, NE, pos,
           CASE WHEN grp > 1 AND n_sys = maxw AND winners = 1
                THEN method || '_priority' ELSE method END AS method
    FROM w2
    """,
)
def kg_priority_vote(spark, sf_dir):
    """W1/D2-D4: strict-majority vote via window functions
    (reference: ner_config.py:120-156) over the fused mentions."""
    from pyspark.sql import Window

    cons = kg_consensus_fusion(spark, sf_dir)
    w = Window.partitionBy("doc_id", "NE")
    maxw = F.max("n_sys").over(w)
    mask = (
        (F.count(F.lit(1)).over(w) > 1)
        & (F.col("n_sys") == maxw)
        & (F.sum((F.col("n_sys") == maxw).cast("int")).over(w) == 1)
    )
    return cons.select(
        "doc_id",
        "NE",
        "pos",
        F.when(mask, F.concat("method", F.lit("_priority"))).otherwise(F.col("method")).alias("method"),
    )


# ---------------------------------------------------------------------------
# Text analysis over documents
# ---------------------------------------------------------------------------

@query(
    "doc_token_count",
    f"""
    SELECT doc_id,
           CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens,
           length(text) AS n_chars_obs
    FROM documents WHERE {HAS_TEXT_SQL}
    """,
)
def doc_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(has_text(F.col("text"))).select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
    )


@query(
    "doc_quality_score",
    f"""
    SELECT doc_id,
           round(CAST(len(list_filter({tokens_sql('text')},
                                      t -> t IN ('the', 'a'))) AS DOUBLE)
                 / len({tokens_sql('text')}), 4) AS stopword_ratio,
           round(CAST(length(text) AS DOUBLE)
                 / len({tokens_sql('text')}), 4) AS chars_per_token
    FROM documents WHERE {HAS_TEXT_SQL}
    """,
)
def doc_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    return docs.filter(has_text(F.col("text"))).select(
        "doc_id",
        F.round(stop.cast("double") / F.size(toks), 4).alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / F.size(toks), 4).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Relational coverage (joins / aggs / windows) on the TPC-H-ish tables
# ---------------------------------------------------------------------------

@query(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    # money sums go through DECIMAL (exact, order-independent): a raw
    # double sum over millions of rows drifts by ULPs across engines and
    # crosses penny-rounding boundaries at sf1 (observed on
    # tpch_priority_revenue in BENCH/driver_sim_sf1_r05.log) — the same
    # pattern queries_analytic.py has used since round 2
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc1 = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
        .cast("double").alias("sum_qty"),
        F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
        F.round(F.sum(price * disc1), 2).cast("double").alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "tpch_priority_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS revenue,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def tpch_priority_revenue(spark, sf_dir):
    # exact-decimal revenue: see tpch_q1 — this query is where the double
    # drift was first OBSERVED (sf1: 60599740320.56 vs .57)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc1 = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(price * disc1), 2).cast("double").alias("revenue"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        )
    )


@query(
    "events_user_stats",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def events_user_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double").alias("total_value"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Deduplication suite over documents
# ---------------------------------------------------------------------------

@query(
    "dedup_exact_groups",
    """
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000000, text FROM documents
    )
    SELECT count(*) AS n_docs, min(doc_id) AS keep_id,
           array_to_string(list_sort(list(doc_id)), ',') AS members
    FROM uni WHERE text IS NOT NULL
    GROUP BY text HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup (hash-groupBy) exercised on a corpus with known dups
    (documents unioned with an id-shifted copy of itself)."""
    from .operators.dedup import exact_dup_groups

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    uni = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
    return exact_dup_groups(uni).select(
        "n_docs",
        "keep_id",
        F.array_join(F.transform("members", lambda m: m.cast("string")), ",").alias("members"),
    )


_SHINGLE_SQL = f"""
      SELECT doc_id AS doc,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct({ngrams_sql('toks', 3)})
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM (SELECT doc_id, {tokens_sql('text')} AS toks
            FROM documents
            WHERE {HAS_TEXT_SQL})
"""

#: distinct undirected word-bigram edges (u < v) of the documents
_BIGRAM_EDGE_SQL = f"""
      SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
      FROM (
        SELECT unnest({ngrams_sql('toks', 2, ('s', 'd'))}, recursive := true)
        FROM (SELECT {tokens_sql('text')} AS toks
              FROM documents WHERE text IS NOT NULL)
      ) WHERE s <> d
"""


_NGRAM_MAX_DF = 50


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    posting0 AS (SELECT doc, unnest(sh) AS shingle FROM sh),
    hot AS (SELECT shingle FROM posting0 GROUP BY shingle
            HAVING count(*) > {_NGRAM_MAX_DF}),
    posting1 AS (SELECT doc, shingle FROM posting0
                 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    nsh AS (SELECT doc, count(*) AS n_sh FROM posting1 GROUP BY doc),
    posting AS (SELECT p.doc, p.shingle, n.n_sh
                FROM posting1 p JOIN nsh n ON p.doc = n.doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b,
             count(*) AS inter
      FROM posting a JOIN posting b
        ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4) AS jaccard
    FROM inter
    WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """df-capped Jaccard (the 100 TB-safe shape): shingles with document
    frequency > {max_df} are stop-phrases carrying no dedup signal, but
    each contributes df^2 join pairs on ONE key — the round-1 uncapped
    query was the slowest bench entry purely from this skew. The cap
    changes the denominators too (recomputed over kept shingles), and the
    oracle implements the identical capped semantics."""
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, max_df=_NGRAM_MAX_DF
    )


@query("dedup_minhash_lsh")  # oracle attached below (md5 signatures replayed)
def dedup_minhash_lsh(spark, sf_dir):
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), k=16, bands=4)


@query("dedup_minhash_verified")  # oracle attached below (candidates + exact verify)
def dedup_minhash_verified(spark, sf_dir):
    """The composed candidates->verify recipe (dedup.minhash_verified_pairs)
    at the same parameters as dedup_minhash_lsh: banded LSH generates the
    pairs, exact n-gram Jaccard is computed only on those pairs — the
    operator the 100 TB dedup path actually runs."""
    from .operators.dedup import minhash_verified_pairs

    return minhash_verified_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, k=16, bands=4
    )


@query("dedup_simhash")  # oracle attached below (md5-based pure-column simhash)
def dedup_simhash(spark, sf_dir):
    from .operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@query(
    "ann_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
               FROM embeddings WHERE vec_id % 40 = 0),
    v AS (SELECT vec_id AS nb_id, CAST(embedding AS DOUBLE[]) AS nb_vec
          FROM embeddings),
    scored AS (
      SELECT q_id, nb_id,
             round(list_cosine_similarity(q_vec, nb_vec), 4) AS score
      FROM q CROSS JOIN v WHERE q_id <> nb_id
    ),
    ranked AS (
      SELECT q_id, nb_id, score,
             row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nb_id ASC) AS rank
      FROM scored
    )
    SELECT q_id, nb_id, score, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_topk_bruteforce(spark, sf_dir):
    from .operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") % 40 == 0), k=5)


@query("ann_topk_lsh")  # oracle attached below (plane literals generated into SQL)
def ann_topk_lsh(spark, sf_dir):
    from .operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") % 40 == 0), k=5, bands=8, planes_per_band=4
    )


@query("ann_topk_ivf")  # oracle attached below (centroid literals generated into SQL)
def ann_topk_ivf(spark, sf_dir):
    """IVF ANN: exact cosine within the nprobe cells nearest each query.

    Centroids come from the one trainer (queries_hash.ivf_centroids_for:
    seeded k-means on the first IVF_SAMPLE vectors by vec_id), so the
    generated DuckDB oracle inlines bit-identical literals.
    """
    from .operators.similarity import ivf_topk
    from .queries_hash import IVF_NPROBE, ivf_centroids_for

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") % 40 == 0),
        ivf_centroids_for(sf_dir),
        k=5,
        nprobe=IVF_NPROBE,
    )


def _jittered_embeddings(spark, sf_dir):
    """embeddings ∪ deterministically-jittered copy: plants one true
    near-dup (cosine ~0.999) per source vector so the near-dup operator
    runs at its designed >=0.95-cosine operating point on real sf data.
    The jitter (0.05*sin(vec_id + i) per dimension) is SQL-replayable."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    jit = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.element_at(F.col("embedding"), (i + 1).cast("int"))
        + 0.05 * F.sin((F.col("vec_id") + i).cast("double")),
    )
    # jitter FIRST, rename SECOND: projecting `vec_id + 1e9 AS vec_id`
    # alongside the jitter expression silently rebinds the lambda's
    # ``vec_id`` to the sibling alias (Spark 4 lateral column aliases),
    # shifting every sin() input by 1e9
    copy = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", jit.alias("embedding"))
        .select(
            (F.col("vec_id") + 1_000_000_000).alias("vec_id"), "embedding"
        )
    )
    return emb.unionByName(copy)


@query("embedding_near_dup")  # oracle attached below
def embedding_near_dup(spark, sf_dir):
    from .operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _jittered_embeddings(spark, sf_dir), threshold=0.95, bands=6, planes_per_band=8
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_LANGS = ["de", "en", "es", "fr", "zh"]  # alphabetical = tie-break priority


def _lang_score_sql(lang: str, words) -> str:
    wl = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter({tokens_sql('text')}, t -> t IN ({wl})))"
    )


@query("lang_id_predict", None)  # SQL attached below (needs LANG_STOPWORDS)
def lang_id_predict(spark, sf_dir):
    from .operators.textstats import predict_lang

    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", predict_lang(F.col("text")).alias("pred_lang"), F.col("lang").alias("true_lang")
    )


def _lang_sql() -> str:
    from .operators.textstats import LANG_STOPWORDS

    scores = {l: _lang_score_sql(l, LANG_STOPWORDS[l]) for l in _LANGS}
    best = "greatest(" + ", ".join(f"s_{l}" for l in _LANGS) + ")"
    case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in _LANGS)
    return f"""
    WITH s AS (
      SELECT doc_id, lang AS true_lang,
             {", ".join(f"{scores[l]} AS s_{l}" for l in _LANGS)}
      FROM documents WHERE text IS NOT NULL
    ),
    b AS (SELECT *, {best} AS best FROM s)
    SELECT doc_id,
           CASE WHEN best > 0 THEN (CASE {case} END) ELSE 'und' END AS pred_lang,
           true_lang
    FROM b
    """


ORACLE["lang_id_predict"] = _lang_sql()


@query(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform({tokens_sql('text')},
                              t -> length(t)*7 + ascii(t[1:1]))),
             (acc, c) -> (acc*31 + c) % 1000000007) AS fingerprint
    FROM documents WHERE {HAS_TEXT_SQL}
    """,
)
def doc_fingerprint_q(spark, sf_dir):
    from .operators.textstats import doc_fingerprint

    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


@query(
    "bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(list_sum(list_transform(
                 list_filter(string_split_regex(text, '[^\\p{{L}}\\p{{N}}]+'), p -> p <> ''),
                 p -> CAST(ceil(length(p) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens
    FROM documents WHERE {HAS_TEXT_SQL}
    """,
)
def bpe_token_count_q(spark, sf_dir):
    from .operators.textstats import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    return docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("bpe_tokens"))


@query("quality_features")  # rows-only: composite score easier kept engine-side
def quality_features_q(spark, sf_dir):
    from .operators.textstats import quality_features

    return quality_features(
        _t(spark, sf_dir, "documents").filter(has_text(F.col("text"))).select("doc_id", "text")
    ).drop("text")


# ---------------------------------------------------------------------------
# Events: sessionization (gap-based) — window-function coverage
# ---------------------------------------------------------------------------

@query(
    "events_sessionize",
    """
    WITH o AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(event_id) AS first_event, max(event_id) AS last_event
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800),
        1,
    ).otherwise(0)
    s = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (stubbed decode behind real mapInPandas batching).
# Media derive from the sf documents table (scales with sf_dir) and the
# fake codec is md5-based, so DuckDB replays the decoded dimensions exactly
# — the mapInPandas Arrow plumbing is what the driver check exercises.
# ---------------------------------------------------------------------------

@query(
    "multimodal_decode",
    """
    WITH m AS (
      SELECT printf('media://%08d', doc_id) AS ref,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS media_type
      FROM documents WHERE doc_id % 2 = 0
    ),
    d AS (
      SELECT media_type,
             64 + (('0x' || substr(md5(ref), 1, 2))::INT % 192) AS width,
             64 + (('0x' || substr(md5(ref), 3, 2))::INT % 192) AS height
      FROM m
    )
    SELECT media_type, count(*) AS n_media,
           round(avg(width), 2) AS avg_w, round(avg(height), 2) AS avg_h
    FROM d GROUP BY media_type
    """,
)
def multimodal_decode(spark, sf_dir):
    from .operators.multimodal import decode_media, media_from_ref_table

    media = media_from_ref_table(_t(spark, sf_dir, "documents"))
    decoded = decode_media(media, fake=True)
    return decoded.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.round(F.avg("width"), 2).alias("avg_w"),
        F.round(F.avg("height"), 2).alias("avg_h"),
    )


# ---------------------------------------------------------------------------
# B3 trust filter + C2 correction join, oracle-checked (completing the
# SURVEY.md §2 consensus chain coverage in CORRECTNESS)
# ---------------------------------------------------------------------------

_TRUSTED = ("casEN_spaCy_stanza", "casEN_spaCy", "casEN")
_TRUSTED_SQL = ", ".join(f"'{m}'" for m in _TRUSTED)


@query(
    "kg_trust_filter",
    f"""
    WITH cons AS ({_CONSENSUS_SQL_BODY})
    SELECT doc_id, NE, pos, method FROM cons WHERE method IN ({_TRUSTED_SQL})
    """,
)
def kg_trust_filter(spark, sf_dir):
    """B3: keep only trusted methods (reference: config.yaml
    final_methods_to_keep / ner_config_old.py:339-345)."""
    from .operators.consensus import trust_filter

    cons = kg_consensus_fusion(spark, sf_dir)
    return trust_filter(cons, _TRUSTED).select("doc_id", "NE", "pos", "method")


_CORR_ROWS = [
    ("spark", d, f"cat_spark_{d % 3}") for d in range(0, 200, 7)
] + [
    ("customer", 1_000_000_000 + d, f"cat_cust_{d % 2}") for d in range(0, 200, 11)
]
_CORR_SQL_VALUES = ", ".join(
    f"('{ne}', {fid}, '{cat}')" for ne, fid, cat in _CORR_ROWS
)


@query(
    "kg_correction_join",
    f"""
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000000, text FROM documents
    ),
    ded AS (
      SELECT min(doc_id) AS doc_uid, text, list_sort(list(doc_id)) AS files_id
      FROM uni WHERE text IS NOT NULL GROUP BY text
    ),
    surf(NE) AS (VALUES {_SURF_SQL}),
    m AS (
      SELECT d.doc_uid, surf.NE, instr(d.text, surf.NE) AS pos, d.files_id
      FROM ded d CROSS JOIN surf WHERE instr(d.text, surf.NE) > 0
    ),
    corr(NE, fid, manual_cat) AS (VALUES {_CORR_SQL_VALUES}),
    e AS (SELECT doc_uid, NE, pos, unnest(files_id) AS fid FROM m),
    j AS (
      SELECT e.doc_uid, e.NE, e.pos, e.fid, c.manual_cat
      FROM e LEFT JOIN corr c ON e.NE = c.NE AND e.fid = c.fid
    )
    SELECT doc_uid, NE, pos,
           count(manual_cat) AS n_corr,
           min(CASE WHEN manual_cat IS NOT NULL THEN fid END) AS first_corr_fid,
           min(manual_cat) AS manual_cat
    FROM j GROUP BY doc_uid, NE, pos
    """,
)
def kg_correction_join(spark, sf_dir):
    """C2: explode files_id -> broadcast-join the correction dimension ->
    re-collapse per mention (reference: ner_config.py:200-307). Exercised on
    a corpus with real multi-id groups (documents ∪ id-shifted copy)."""
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
    m = (
        ded.select(
            "doc_uid", "text", "files_id",
            F.explode(F.array(*[F.lit(s) for s in _SURFACES])).alias("NE"),
        )
        .withColumn("pos", F.expr("instr(text, NE)").cast("long"))
        .filter(F.col("pos") > 0)
        .select("doc_uid", "NE", "pos", "files_id")
    )
    corr = spark.createDataFrame(_CORR_ROWS, ["NE", "fid", "manual_cat"])
    e = m.select("doc_uid", "NE", "pos", F.explode("files_id").alias("fid"))
    j = e.join(F.broadcast(corr), ["NE", "fid"], "left")
    return j.groupBy("doc_uid", "NE", "pos").agg(
        F.count("manual_cat").alias("n_corr"),
        F.min(F.when(F.col("manual_cat").isNotNull(), F.col("fid"))).alias("first_corr_fid"),
        F.min("manual_cat").alias("manual_cat"),
    )


# quality_features is fully SQL-expressible — attach its oracle (mirrors
# ner_spark.operators.textstats.quality_features exactly, incl. the
# floor(x*1e4 + 0.5) rounding — see the r4 note in operators/textstats.py:
# engine-native round(double, 4) diverges one ULP between Spark and DuckDB
# on shortest-repr ties like 0.84025)
ORACLE["quality_features"] = f"""
    WITH b AS (
      SELECT doc_id, text,
             {tokens_sql('text')} AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct,
             length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS upper,
             len(list_filter({tokens_sql('text')},
                             t -> t IN ('the', 'and', 'of', 'to', 'a'))) AS stop_en
      FROM documents WHERE {HAS_TEXT_SQL}
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           floor(CAST(punct AS DOUBLE) / greatest(n_chars, 1) * 10000 + 0.5) / 10000.0 AS punct_ratio,
           floor(CAST(upper AS DOUBLE) / greatest(n_chars, 1) * 10000 + 0.5) / 10000.0 AS upper_ratio,
           floor(CAST(stop_en AS DOUBLE) / greatest(len(toks), 1) * 10000 + 0.5) / 10000.0 AS stopword_ratio,
           floor((least(len(toks) / 100.0, 1.0) * 0.4
                  + least(CAST(stop_en AS DOUBLE) / greatest(len(toks), 1) * 5, 1.0) * 0.3
                  + (1 - least(CAST(punct AS DOUBLE) / greatest(n_chars, 1) * 10, 1.0)) * 0.3)
                 * 10000 + 0.5) / 10000.0 AS quality
    FROM b
"""


# extended operator coverage registers into the same Q/ORACLE dicts
# (imported last: the modules use the `query` decorator defined above)
from . import queries_kg  # noqa: E402,F401
from . import queries_hash  # noqa: E402,F401
from . import queries_flagship  # noqa: E402,F401
from . import queries_corpus  # noqa: E402,F401
from . import queries_timeseries  # noqa: E402,F401
from . import queries_textmine  # noqa: E402,F401
from . import queries_analytic  # noqa: E402,F401
from . import queries_spans  # noqa: E402,F401
from . import queries_relops  # noqa: E402,F401
from . import queries_sketch  # noqa: E402,F401
from . import queries_dq  # noqa: E402,F401
from . import queries_relops3  # noqa: E402,F401
from . import queries_relops4  # noqa: E402,F401
from . import queries_relops5  # noqa: E402,F401
from . import queries_textmine2  # noqa: E402,F401
from . import queries_catalog  # noqa: E402,F401
from . import queries_ir  # noqa: E402,F401
from . import queries_graphkg  # noqa: E402,F401
from . import queries_curation  # noqa: E402,F401
from . import queries_packing  # noqa: E402,F401
from . import queries_ir2  # noqa: E402,F401
from . import queries_snm  # noqa: E402,F401
from . import queries_relops6  # noqa: E402,F401
from . import queries_relops7  # noqa: E402,F401
from . import queries_relops8  # noqa: E402,F401
from . import queries_relops9  # noqa: E402,F401
from . import queries_relops10  # noqa: E402,F401
from . import queries_relops11  # noqa: E402,F401
from . import queries_curation2  # noqa: E402,F401
from . import queries_audit  # noqa: E402,F401
from . import queries_curation3  # noqa: E402,F401


_FAKE_DECODE_SQL = """
    m AS (
      SELECT printf('media://%08d', doc_id) AS ref,
             printf('doc%08d', doc_id) AS doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS media_type
      FROM documents WHERE doc_id % 2 = 0
    ),
    d AS (
      SELECT ref AS media_ref, doc_id, media_type,
             64 + (('0x' || substr(md5(ref), 1, 2))::INT % 192) AS width,
             64 + (('0x' || substr(md5(ref), 3, 2))::INT % 192) AS height,
             CASE WHEN media_type = 'image' THEN 1
                  ELSE 1 + (('0x' || substr(md5(ref), 5, 2))::INT % 30) END
               AS n_frames
      FROM m
    )
"""


@query(
    "multimodal_resize_plan",
    f"""
    WITH {_FAKE_DECODE_SQL}
    SELECT media_ref, doc_id,
           CAST(round(width * least(224.0 / width, 224.0 / height, 1.0))
                AS INT) AS target_w,
           CAST(round(height * least(224.0 / width, 224.0 / height, 1.0))
                AS INT) AS target_h
    FROM d
    """,
)
def multimodal_resize_plan(spark, sf_dir):
    """Aspect-preserving resize planning over the decoded metadata — pure
    column arithmetic downstream of the Arrow decode (the pixel work
    belongs inside the decode UDF in production; the PLAN is what must be
    deterministic and partition-parallel)."""
    from .operators.multimodal import decode_media, media_from_ref_table, resize_spec

    media = media_from_ref_table(_t(spark, sf_dir, "documents"))
    return resize_spec(decode_media(media, fake=True), max_side=224)


@query(
    "multimodal_frame_plan",
    f"""
    WITH {_FAKE_DECODE_SQL}
    SELECT media_ref, doc_id, CAST(u.f AS INT) AS frame_idx
    FROM d, unnest(generate_series(0, n_frames - 1, 5)) AS u(f)
    """,
)
def multimodal_frame_plan(spark, sf_dir):
    """Frame-sampling plan (every 5th frame) as a JVM-side sequence explode
    over the decoded frame counts — one row per frame to fetch, no Python
    in the fan-out."""
    from .operators.multimodal import decode_media, media_from_ref_table, sample_frames

    media = media_from_ref_table(_t(spark, sf_dir, "documents"))
    return sample_frames(decode_media(media, fake=True), every_n=5).select(
        "media_ref", "doc_id", F.col("frame_idx").cast("int").alias("frame_idx")
    )
