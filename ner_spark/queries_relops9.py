"""IR, linear-algebra, behavioral, and catalog-maintenance coverage, batch 9.

Six genuinely new plan shapes:

- ``ir_phrase_search``: exact k-term phrase matching over a POSITIONAL
  inverted index — the offset-normalization join. Every (doc, pos, term)
  posting joins the broadcast phrase-term table, the candidate start is
  pos - offset, and a start position is a match iff all plen offsets are
  present (count(DISTINCT offset) = plen after ONE groupBy). No per-row
  string scanning, no regex: phrase search becomes a join + aggregate,
  which is how a distributed engine runs it when the index is already
  materialized (the positional sibling of text_inverted_index).
- ``embedding_power_iteration``: top-eigenvector power iteration on the
  Gram matrix of the embeddings table (operators/similarity.py:
  gram_power_iteration). The Gram matrix is ONE vec_id self-join +
  groupBy(i, j) — distributed, map-side combinable, d^2 output rows —
  and the fixed 3-round iteration renormalizes with integer division of
  non-negative operands, so the whole trajectory is exact integers and
  DuckDB replays it bit-identically (the linear-algebra companion to
  embedding_kmeans_lloyd's argmin trajectory).
- ``events_markov_transitions``: the first-order behavior model — the
  event-type transition matrix with row-normalized probabilities. One
  exchange on user_id for the lag; the matrix is |types|^2 rows; row
  totals attach back by broadcast (never a second window).
- ``table_compaction_plan``: Iceberg-style small-file compaction
  planning — within each partition, files (doc_id, bytes) are packed
  into target-size rewrite groups by prefix-sum binning:
  group = (cumsum - bytes) div target, i.e. the bin containing each
  file's start offset. The catalog-maintenance sibling of
  pack_concat_cut's token-stream cut: same prefix-sum discipline, but
  keyed per table partition and emitting the rewrite manifest a
  compaction job executes (n_files, total_bytes, id range per group).
- ``corpus_ngram_novelty``: incremental-crawl novelty scoring — the
  fraction of each document's distinct 3-gram shingles whose GLOBAL
  first occurrence (min doc_id) is this document. First-seen attribution
  runs as an unordered min-window over the posting list (one exchange on
  the gram, no join-back), then one groupBy(doc). The monitoring signal
  a growing corpus tracks to detect when new ingest stops adding
  content.
- ``events_hourly_seasonality``: hour-of-day seasonality profile per
  event type — mean value per (type, hour) and its deviation from the
  type's overall mean. Two aggregate granularities over ONE scan; the
  per-type totals re-attach by broadcast join (the q11/tfidf pattern,
  never a global window). Hours derive from integer epoch division, so
  grouping is timezone-free; value sums are exact milli-unit integers
  and each mean is one IEEE division rounded at the edge.

Scale notes: phrase search joins |postings matching phrase terms| rows —
the term filter IS the pushdown (stop-phrase terms would need the
text_inverted_index df-cap treatment); the Gram groupBy moves
|vecs| * d^2 product rows but partial-aggregates to d^2 per task;
transitions and seasonality shuffle once each on their natural keys;
compaction's window partitions by table partition (bounded width);
novelty's min-window partitions by gram — a hot boilerplate gram has
high width, but min is partial-aggregatable... it is a WINDOW, so it is
not: at 100 TB swap the window for groupBy(g).min + broadcast-threshold
semi-join if gram df skew bites (documented trade, same output).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.text import has_text, tokens
from .operators.dedup import explode_ne, shingled
from .queries import HAS_TEXT_SQL, _SHINGLE_SQL, _t, query, tokens_sql

# ---------------------------------------------------------------------------
# ir_phrase_search: positional-index exact phrase matching
# ---------------------------------------------------------------------------

_PHRASES = [
    "slow hash batch",
    "part filter scan",
    "row column sort",
]

_PHRASE_VALUES = ",\n        ".join(
    f"('{p}', {off}, '{term}', {len(p.split())})"
    for p in _PHRASES
    for off, term in enumerate(p.split())
)

_PHRASE_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t
      FROM documents
      WHERE {HAS_TEXT_SQL}
    ),
    idx AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS term
      FROM toks, unnest(generate_series(1, len(t))) AS g(i)
    ),
    ph AS (
      SELECT * FROM (VALUES
        {_PHRASE_VALUES}
      ) v(phrase, off, term, plen)
    ),
    occ AS (
      SELECT p.phrase, p.plen, i.doc_id, i.pos - p.off AS start,
             count(DISTINCT p.off) AS nhit
      FROM idx i JOIN ph p ON p.term = i.term
      GROUP BY 1, 2, 3, 4
    )
    SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_occ
    FROM occ WHERE nhit = plen
    GROUP BY 1, 2
"""


@query("ir_phrase_search", _PHRASE_SQL)
def ir_phrase_search(spark, sf_dir):
    """Exact phrase occurrence counts per document via the
    offset-normalization join over a positional index: posting (doc,
    pos, term) matches phrase slot (term, off) at candidate start
    pos - off; a start with all plen distinct offsets present is one
    occurrence. One broadcast join + two aggregates, zero string ops
    past tokenization."""
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    idx = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    pt = spark.createDataFrame(
        [
            (p, off, term, len(p.split()))
            for p in _PHRASES
            for off, term in enumerate(p.split())
        ],
        "phrase string, off int, term string, plen int",
    )
    occ = (
        idx.join(F.broadcast(pt), "term")
        .select(
            "phrase", "plen", "doc_id", (F.col("pos") - F.col("off")).alias("start"), "off"
        )
        .groupBy("phrase", "plen", "doc_id", "start")
        .agg(F.countDistinct("off").alias("nhit"))
    )
    return (
        occ.filter(F.col("nhit") == F.col("plen"))
        .groupBy("phrase", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )


# ---------------------------------------------------------------------------
# embedding_power_iteration: exact-integer top-eigenvector trajectory
# ---------------------------------------------------------------------------

_PI_ITERS = 3
_PI_QUANT = 100
_PI_XSCALE = 1000


def _pi_sql() -> str:
    parts = [
        f"""
    WITH pts0 AS (
      SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS dim,
             embedding
      FROM embeddings
    ),
    p AS (
      SELECT vec_id, CAST(dim AS BIGINT) AS dim,
             CAST(floor(CAST(embedding[dim+1] AS DOUBLE) * {_PI_QUANT})
                  AS BIGINT) AS v
      FROM pts0
    ),
    gram AS (
      SELECT a.dim AS i, b.dim AS j, CAST(sum(a.v * b.v) AS BIGINT) AS g
      FROM p a JOIN p b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    x0 AS (
      SELECT DISTINCT j AS dim, CAST({_PI_XSCALE} AS BIGINT) AS x FROM gram
    )"""
    ]
    for i in range(1, _PI_ITERS + 1):
        parts.append(
            f""",
    y{i} AS (
      SELECT g.i AS dim, CAST(sum(g.g * x.x) AS BIGINT) AS y
      FROM gram g JOIN x{i - 1} x ON x.dim = g.j
      GROUP BY 1
    ),
    m{i} AS (SELECT greatest(max(abs(y)), 1) AS maxy FROM y{i}),
    x{i} AS (
      SELECT dim,
             CAST((CASE WHEN y < 0 THEN -1 ELSE 1 END)
                  * ((abs(y) * {_PI_XSCALE}) // maxy) AS BIGINT) AS x,
             y
      FROM y{i}, m{i}
    )"""
        )
    parts.append(f"\n    SELECT dim, x, y FROM x{_PI_ITERS}")
    return "".join(parts)


@query("embedding_power_iteration", _pi_sql())
def embedding_power_iteration(spark, sf_dir):
    """Fixed 3-round power iteration on the embeddings' Gram matrix with
    exact integer arithmetic (operators/similarity.py:
    gram_power_iteration): centi-quantized long-format vectors, one
    distributed self-join + groupBy for A, broadcast d^2-row matvec per
    round, sign * floor-division renormalization — the whole trajectory
    replays bit-identically in SQL."""
    from .operators.similarity import gram_power_iteration

    emb = _t(spark, sf_dir, "embeddings")
    return gram_power_iteration(
        emb, iters=_PI_ITERS, quant=_PI_QUANT, x_scale=_PI_XSCALE
    )


# ---------------------------------------------------------------------------
# events_markov_transitions: first-order event-type transition matrix
# ---------------------------------------------------------------------------

_MARKOV_SQL = """
    WITH s AS (
      SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    tr AS (
      SELECT prev_type, next_type, count(*) AS n_trans
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT prev_type, sum(n_trans) AS n_out FROM tr GROUP BY 1)
    SELECT tr.prev_type, tr.next_type,
           CAST(tr.n_trans AS BIGINT) AS n_trans,
           round(CAST(tr.n_trans AS DOUBLE) / tot.n_out, 6) AS prob
    FROM tr JOIN tot USING (prev_type)
"""


@query("events_markov_transitions", _MARKOV_SQL)
def events_markov_transitions(spark, sf_dir):
    """Event-type transition matrix with row-normalized probabilities:
    per-user lag (one exchange, deterministic (ts, event_id) order),
    |types|^2-row count matrix, per-row totals re-attached by broadcast.
    Counts are exact; each probability is one IEEE division rounded at
    the edge."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    tr = (
        s.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = tr.groupBy("prev_type").agg(F.sum("n_trans").alias("n_out"))
    return tr.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(F.col("n_trans").cast("double") / F.col("n_out"), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# table_compaction_plan: prefix-sum small-file rewrite groups
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 2000

_COMPACT_SQL = f"""
    WITH c AS (
      SELECT doc_id, source, n_chars AS bytes,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    SELECT source,
           CAST((cum - bytes) // {_COMPACT_TARGET} AS BIGINT) AS file_group,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM c GROUP BY 1, 2
"""


@query("table_compaction_plan", _COMPACT_SQL)
def table_compaction_plan(spark, sf_dir):
    """Small-file compaction planning: within each table partition
    (source), files are packed into ~{target}-byte rewrite groups by the
    bin containing their start offset in the partition's cumulative byte
    stream. One exchange keyed by partition; the window never crosses
    partitions; all arithmetic is exact integer (nonneg div ==
    floor on every engine)."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").alias("bytes"),
        F.sum("n_chars").over(w).alias("cum"),
    )
    return (
        c.select(
            "doc_id",
            "source",
            "bytes",
            F.expr(f"(cum - bytes) div {_COMPACT_TARGET}").alias("file_group"),
        )
        .groupBy("source", "file_group")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_ngram_novelty: first-seen 3-gram attribution per document
# ---------------------------------------------------------------------------

_NOVELTY_SQL = f"""
    WITH s AS ({_SHINGLE_SQL}),
    post AS (SELECT doc, unnest(sh) AS g FROM s),
    fs AS (
      SELECT doc, min(doc) OVER (PARTITION BY g) AS first_doc FROM post
    )
    SELECT doc AS doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN first_doc = doc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(CAST(sum(CASE WHEN first_doc = doc THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty
    FROM fs GROUP BY 1
"""


@query("corpus_ngram_novelty", _NOVELTY_SQL)
def corpus_ngram_novelty(spark, sf_dir):
    """Per-document novelty: share of the doc's distinct 3-gram shingles
    first seen (min doc_id over the whole corpus) in THIS document.
    First-seen attribution is an unordered min-window on the gram
    posting list (one exchange, no join-back), then one groupBy(doc).
    The ingest-monitoring signal that flags when a crawl stops adding
    new content."""
    docs = _t(spark, sf_dir, "documents")
    post = shingled(docs).select("doc", explode_ne("sh").alias("g"))
    fd = post.select(
        "doc", F.min("doc").over(Window.partitionBy("g")).alias("first_doc")
    )
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0))
    return fd.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_grams"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias("novelty"),
    ).withColumnRenamed("doc", "doc_id")


# ---------------------------------------------------------------------------
# events_hourly_seasonality: hour-of-day value profile per event type
# ---------------------------------------------------------------------------

_SEASON_SQL = """
    WITH v AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour,
             CAST(floor(value * 1000) AS BIGINT) AS vm
      FROM events
    ),
    g AS (
      SELECT event_type, hour, count(*) AS n_events,
             CAST(sum(vm) AS BIGINT) AS s
      FROM v GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(sum(n_events) AS BIGINT) AS tn,
             CAST(sum(s) AS BIGINT) AS ts FROM g GROUP BY 1
    )
    SELECT g.event_type, g.hour, CAST(g.n_events AS BIGINT) AS n_events,
           round(CAST(g.s AS DOUBLE) / g.n_events / 1000, 6) AS mean_value,
           round(CAST(g.s AS DOUBLE) / g.n_events / 1000
                 - CAST(t.ts AS DOUBLE) / t.tn / 1000, 6) AS dev_from_mean
    FROM g JOIN t USING (event_type)
"""


@query("events_hourly_seasonality", _SEASON_SQL)
def events_hourly_seasonality(spark, sf_dir):
    """Hour-of-day seasonality per event type: mean value per (type,
    hour) and its deviation from the type's overall mean. Hours come
    from integer epoch division (timezone-free); milli-unit sums stay
    exact; the per-type totals attach by broadcast join — two aggregate
    granularities, one scan, no window at all."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("(unix_timestamp(ts) div 3600) % 24").alias("hour"),
        F.floor(F.col("value") * 1000).cast("long").alias("vm"),
    )
    g = v.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("vm").alias("s")
    )
    t = g.groupBy("event_type").agg(
        F.sum("n_events").alias("tn"), F.sum("s").alias("tsum")
    )
    mean = F.col("s").cast("double") / F.col("n_events") / 1000
    tmean = F.col("tsum").cast("double") / F.col("tn") / 1000
    return g.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hour",
        "n_events",
        F.round(mean, 6).alias("mean_value"),
        F.round(mean - tmean, 6).alias("dev_from_mean"),
    )
