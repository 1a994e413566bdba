"""Corpus-curation operators: cluster-level dedup, contamination checks,
stratified sampling.

These extend the training-data suite past pairwise dedup into the steps a
real corpus pipeline runs AFTER pairs exist: resolve near-dup pairs into
clusters and pick one survivor per cluster (the actual dedup decision),
screen documents for benchmark contamination against a broadcast probe
set, and draw deterministic hash-based samples with per-stratum rates.
Every query is paired with a DuckDB oracle; the md5-based 60-bit hash
(dedup.md5_60) and the recursive-CTE min-reachable component oracle are
the same replay tricks used by queries_hash / queries_kg.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.text import has_text, ngrams, tokens
from .operators.dedup import explode_ne, md5_60, shingled
from .oracle_minhash import minhash_cand_cte
from .queries import HAS_TEXT_SQL, _SHINGLE_SQL, _t, ngrams_sql, query, tokens_sql

# ---------------------------------------------------------------------------
# dedup_cluster_survivors: verified near-dup pairs -> connected components
# -> one survivor per cluster (min doc id). This is the terminal step of
# the 100 TB dedup recipe: LSH candidates (O(docs x bands)) -> exact
# verify on candidates only -> CC over the (sparse) verified pairs ->
# keep-list. The alternating-star CC operator shuffles O(edges) per round
# with map-side-combinable min aggregates, so the skewed "hub" document
# of a big duplicate cluster never concentrates on one reducer.
# ---------------------------------------------------------------------------

_SURVIVORS_SQL = f"""
    WITH RECURSIVE {minhash_cand_cte(_SHINGLE_SQL, 16, 4)},
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
      WHERE round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4) >= 0.1
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
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT component AS survivor,
           CAST(count(*) AS BIGINT) AS n_members,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM comp GROUP BY component
"""


@query("dedup_cluster_survivors", _SURVIVORS_SQL)
def dedup_cluster_survivors(spark, sf_dir):
    """Near-dup clusters with a pinned survivor: minhash-verified pairs
    (same parameters as dedup_minhash_verified) -> alternating-star
    connected components -> per-component survivor = min doc id, with the
    sorted member list. The oracle replays the pairs in SQL and resolves
    components with a recursive min-reachable CTE — an independent
    formulation of the same contract (the kg_canonicalize technique)."""
    from .operators.canonicalize import connected_components
    from .operators.dedup import minhash_verified_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_verified_pairs(docs, threshold=0.1, k=16, bands=4)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    cc = connected_components(edges)
    return cc.groupBy(F.col("component").alias("survivor")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("node")), lambda m: m.cast("string")
            ),
            ",",
        ).alias("members"),
    )


# ---------------------------------------------------------------------------
# contamination_check: benchmark n-gram overlap via a broadcast probe set.
# The probe side (an eval benchmark) is tiny vs the corpus, so the join
# broadcasts — the corpus is scanned in place, no shuffle on the big side.
# ---------------------------------------------------------------------------

_CONTAMINATION_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    probe AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc % 97 = 3),
    tgt AS (SELECT doc, CAST(len(sh) AS BIGINT) AS n_sh, unnest(sh) AS shingle
            FROM sh WHERE doc % 97 <> 3),
    hits AS (SELECT doc, n_sh, count(*) AS n_hits
             FROM tgt JOIN probe USING (shingle) GROUP BY 1, 2)
    SELECT doc AS doc_id, n_hits, n_sh,
           round(CAST(n_hits AS DOUBLE) / n_sh, 4) AS contamination
    FROM hits
"""


@query("contamination_check", _CONTAMINATION_SQL)
def contamination_check(spark, sf_dir):
    """Benchmark-contamination screen: documents whose 3-gram shingles
    overlap a probe set (here: the deterministic doc_id % 97 = 3 subset
    standing in for an eval benchmark). Per contaminated doc: distinct
    overlapping shingles, shingle count, and the overlap ratio. The probe
    set broadcasts (F.broadcast) — at corpus scale this is a map-side
    semi-join against a few-MB benchmark table."""
    docs = _t(spark, sf_dir, "documents")
    tgt_sh = shingled(docs.filter(F.col("doc_id") % 97 != 3))
    probe_sh = (
        shingled(docs.filter(F.col("doc_id") % 97 == 3))
        .select(explode_ne("sh").alias("shingle"))
        .distinct()
    )
    posting = tgt_sh.select(
        "doc",
        F.size("sh").cast("long").alias("n_sh"),
        explode_ne("sh").alias("shingle"),
    )
    return (
        posting.join(F.broadcast(probe_sh), "shingle")
        .groupBy("doc", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.col("doc").alias("doc_id"),
            "n_hits",
            "n_sh",
            F.round(F.col("n_hits") / F.col("n_sh"), 4).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# sample_stratified: deterministic hash sampling with per-stratum rates.
# The keep decision is a pure per-row expression (no shuffle, no RNG
# state): md5 of the doc id -> bucket in [0, 1000) -> keep if under the
# stratum's permille rate. Reproducible at any parallelism and replayable
# in SQL — unlike DataFrame.sample, whose output depends on partitioning.
# ---------------------------------------------------------------------------

_STRATUM_RATES = {"short": 100, "mid": 500, "long": 1000}  # permille

_SAMPLE_SQL = f"""
    WITH s AS (
      SELECT doc_id,
             CASE WHEN length(text) < 250 THEN 'short'
                  WHEN length(text) < 380 THEN 'mid'
                  ELSE 'long' END AS stratum,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
               AS bucket
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, stratum, bucket FROM s
    WHERE bucket < CASE stratum
                     WHEN 'short' THEN {_STRATUM_RATES["short"]}
                     WHEN 'mid' THEN {_STRATUM_RATES["mid"]}
                     ELSE {_STRATUM_RATES["long"]} END
"""


@query("sample_stratified", _SAMPLE_SQL)
def sample_stratified(spark, sf_dir):
    """Stratified deterministic down-sampling: length strata (short/mid/
    long) kept at 10% / 50% / 100% via an md5 bucket on the doc id. The
    bucket column is emitted so the oracle verifies the hash decision
    itself, not just the rate."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    stratum = (
        F.when(F.length("text") < 250, F.lit("short"))
        .when(F.length("text") < 380, F.lit("mid"))
        .otherwise(F.lit("long"))
    )
    bucket = F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(1000))
    rate = (
        F.when(F.col("stratum") == "short", F.lit(_STRATUM_RATES["short"]))
        .when(F.col("stratum") == "mid", F.lit(_STRATUM_RATES["mid"]))
        .otherwise(F.lit(_STRATUM_RATES["long"]))
    )
    return (
        docs.select(
            "doc_id", stratum.alias("stratum"), bucket.cast("long").alias("bucket")
        )
        .filter(F.col("bucket") < rate)
    )


# ---------------------------------------------------------------------------
# dedup_substring_spans: positional repeated-substring detection (the exact
# substring-dedup primitive from "Deduplicating Training Data Makes Language
# Models Better", Lee et al. 2022 — here as K-token shingle posting lists
# with positions instead of a distributed suffix array). Each row of the
# output is one K-gram that recurs in >= 2 documents, with its first
# occurrence pinned. Scale: per-row bounded HOF builds the shingles (never
# downstream of an aggregation), grouping is on the 60-bit md5 shingle key
# (map-side partial agg; hot boilerplate shingles combine before the
# shuffle), and the first-occurrence min folds (doc_id, pos) into ONE
# bigint so the aggregate stays a plain partial-aggregatable min.
# ---------------------------------------------------------------------------

_SPAN_K = 12

_SUBSTRING_SQL = f"""
WITH t AS (
  SELECT doc_id, {ngrams_sql('toks', _SPAN_K)} AS grams
  FROM (SELECT doc_id, {tokens_sql('text')} AS toks
        FROM documents WHERE text IS NOT NULL)
),
s AS (
  SELECT doc_id, p, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS sh_hash
  FROM (SELECT doc_id, unnest(grams) AS gram, generate_subscripts(grams, 1) AS p FROM t)
)
SELECT sh_hash,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id * 1000000 + p) // 1000000 AS BIGINT) AS first_doc_id,
       CAST(min(doc_id * 1000000 + p) % 1000000 AS INT) AS first_pos
FROM s GROUP BY sh_hash HAVING count(DISTINCT doc_id) >= 2
"""


@query("dedup_substring_spans", _SUBSTRING_SQL)
def dedup_substring_spans(spark, sf_dir):
    """K-token substrings recurring across >= 2 documents, with the first
    (doc, pos) occurrence — the positional primitive behind exact substring
    dedup of training corpora."""
    K = _SPAN_K
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    shingles = base.select(
        "doc_id", F.posexplode(ngrams("toks", K)).alias("pos0", "gram")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("p"), md5_60(F.col("gram")).alias("sh_hash")
    )
    key = F.col("doc_id") * 1000000 + F.col("p")
    return (
        shingles.groupBy("sh_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(key).alias("_first"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "sh_hash",
            "n_occ",
            "n_docs",
            # integer DIV, not float /: at doc_id ~ 9e9 the double quotient's
            # ulp exceeds the 1e-6 position field and float-truncate could
            # round into the NEXT doc id while the oracle's // stays exact.
            # (The 1e6 packing itself caps docs at 1e6 shingle positions —
            # ~a 1M-token document — matching the oracle's layout.)
            F.expr("_first DIV 1000000").alias("first_doc_id"),
            (F.col("_first") % 1000000).cast("int").alias("first_pos"),
        )
    )


# ---------------------------------------------------------------------------
# mix_temperature_weights: temperature-based domain mixing (alpha = 0.75).
# Per-source sampling weights w_i = n_i^alpha flatten the source
# distribution; a 1M-token budget allocates per-source targets. Exactness
# across engines: alpha = 3/4 is computed as sqrt(n * sqrt(n)) — IEEE sqrt
# is correctly rounded, so the double is bit-identical in Spark and DuckDB
# (a libm pow(n, 0.75) would not be); weights are then floored to integer
# micro-units so the total and the targets are exact BIGINT arithmetic.
# The 1-row totals attach is a broadcast scalar join (O(rows) at any
# scale), the same pattern as tfidf_topk.
# ---------------------------------------------------------------------------

_MIX_SQL = f"""
WITH n AS (
  SELECT source,
         CAST(sum(len({tokens_sql('text')})) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
w AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(n_tokens * sqrt(n_tokens)) * 1000000) AS BIGINT) AS w_micro
  FROM n
),
tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS t FROM w)
SELECT source, n_tokens, w_micro,
       CAST(floor((CAST(w_micro AS DOUBLE) / t) * 1000000) AS BIGINT) AS target_tokens
FROM w, tot
"""


@query("mix_temperature_weights", _MIX_SQL)
def mix_temperature_weights(spark, sf_dir):
    """Per-source temperature-sampling weights (alpha = 0.75) and exact
    integer token targets out of a 1M-token budget."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text"))))
        .cast("long")
        .alias("n_tokens")
    )
    nt = F.col("n_tokens").cast("double")
    w = n.withColumn(
        "w_micro",
        F.floor(F.sqrt(nt * F.sqrt(nt)) * F.lit(1000000.0)).cast("long"),
    )
    tot = w.agg(F.sum("w_micro").cast("long").alias("t"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "w_micro",
        F.floor((F.col("w_micro").cast("double") / F.col("t")) * F.lit(1000000.0))
        .cast("long")
        .alias("target_tokens"),
    )


# ---------------------------------------------------------------------------
# doc_lm_surprisal: unigram-LM perplexity-proxy scoring (the CCNet-style
# "perplexity filter" for training corpora, reduced to a unigram LM that an
# SQL oracle can replay). score(doc) = mean over tokens of ln(total/freq) —
# high = improbable token mix. Scale: the LM "training" is one map-side-
# combinable count aggregate; scoring joins the broadcast frequency table
# and attaches the 1-row total with a broadcast scalar join (same pattern
# as tfidf_topk / mix_temperature_weights). ln on both engines sees the
# IDENTICAL double (one exact-rounded division first); each per-token ln
# is then rounded to integer micro-nats BEFORE summing (the DSIR trick),
# so the per-doc total is an order-free BIGINT sum and the final mean is
# ONE identical division — a float avg() would accumulate in partition
# order and could flip the 4th decimal at a rounding boundary.
# ---------------------------------------------------------------------------

_SURPRISAL_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS t
  FROM documents WHERE text IS NOT NULL
),
freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq)
SELECT doc_id, n_tokens,
       round((s_e6 / n_tokens) / 1000000.0, 4) AS surprisal
FROM (
  SELECT k.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(round(ln(tot.n / f.c) * 1000000) AS BIGINT))
              AS BIGINT) AS s_e6
  FROM tok k JOIN freq f ON k.t = f.t, tot
  GROUP BY k.doc_id
)
"""


@query("doc_lm_surprisal", _SURPRISAL_SQL)
def doc_lm_surprisal(spark, sf_dir):
    """Unigram-LM surprisal per document (perplexity-proxy quality filter):
    mean negative log-probability of the document's tokens under the
    corpus unigram distribution."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id",
        F.explode(tokens(F.lower("text"))).alias("t"),
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("n"))
    s_e6 = F.round(F.log(F.col("n") / F.col("c")) * 1000000, 0).cast("long")
    return (
        tok.join(F.broadcast(freq), "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(s_e6).cast("long").alias("_se6"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("_se6") / F.col("n_tokens") / 1000000.0, 4).alias(
                "surprisal"
            ),
        )
    )


# ---------------------------------------------------------------------------
# weighted Bernoulli sampling (deterministic, length-proportional)
# ---------------------------------------------------------------------------

_WSAMPLE_SQL = """
WITH mx AS (
  SELECT source, max(n_chars) AS max_chars FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN mx ON d.source = mx.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
      < CAST(floor((1152921504606846976.0 * d.n_chars) / mx.max_chars)
             AS BIGINT)
"""


@query("sample_weighted_bernoulli", _WSAMPLE_SQL)
def sample_weighted_bernoulli(spark, sf_dir):
    """Deterministic weighted Bernoulli sampling: a document is kept with
    probability n_chars / max(n_chars) within its source, decided by
    comparing its md5 hash against a per-source threshold — no rand(), so
    the SAME rows are kept at any parallelism, on re-runs, and in the
    oracle replay. The threshold is floor((2^60 * w) / w_max): one IEEE
    multiply, one divide, one floor — bit-identical cross-engine. The
    per-source max is a 25-row broadcast dim, never a global aggregate."""
    from .operators.dedup import md5_60 as _md5_60

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    mx = d.groupBy("source").agg(F.max("n_chars").alias("max_chars"))
    thresh = F.floor(
        (F.lit(float(1 << 60)) * F.col("n_chars").cast("double"))
        / F.col("max_chars").cast("double")
    ).cast("bigint")
    return (
        d.join(F.broadcast(mx), "source")
        .filter(_md5_60(F.col("doc_id").cast("string")) < thresh)
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# doc_chunk_stride: fixed-window overlapping chunking — the step that turns
# curated documents into training-context pieces (window W, stride S < W so
# consecutive chunks overlap by W-S). Pure per-row expression work: one
# bounded sequence() + substring per document, no shuffle at all, so the
# operator is embarrassingly parallel and scan-shaped at any corpus size.
# The character window stands in for a token window (the container has no
# real tokenizer); chunk starts land on the stride grid, the final chunk is
# allowed to run short.
# ---------------------------------------------------------------------------

_CHUNK_W = 200
_CHUNK_S = 150

_CHUNK_SQL = f"""
    SELECT doc_id,
           CAST(st // {_CHUNK_S} + 1 AS INT) AS chunk_idx,
           CAST(st AS BIGINT) AS chunk_start,
           CAST(length(substr(text, st + 1, {_CHUNK_W})) AS INT) AS chunk_len,
           substr(text, st + 1, {_CHUNK_W}) AS chunk
    FROM (SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND length(text) > 0),
         unnest(generate_series(0, length(text) - 1, {_CHUNK_S})) AS u(st)
"""


@query("doc_chunk_stride", _CHUNK_SQL)
def doc_chunk_stride(spark, sf_dir):
    """Overlapping fixed-stride chunks (W=200 chars, S=150, overlap 50)
    per document: (doc_id, chunk_idx, chunk_start, chunk_len, chunk).
    posexplode over sequence(0, len-1, S) — the length>0 filter guards
    Spark's descending-sequence quirk (sequence(0, -1) counts DOWN)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return docs.select(
        "doc_id",
        F.posexplode(
            F.sequence(F.lit(0), F.length("text") - 1, F.lit(_CHUNK_S))
        ).alias("idx", "st"),
        "text",
    ).select(
        "doc_id",
        (F.col("idx") + 1).cast("int").alias("chunk_idx"),
        F.col("st").cast("long").alias("chunk_start"),
        F.length(F.col("text").substr(F.col("st") + 1, F.lit(_CHUNK_W)))
        .cast("int")
        .alias("chunk_len"),
        F.col("text").substr(F.col("st") + 1, F.lit(_CHUNK_W)).alias("chunk"),
    )


# ---------------------------------------------------------------------------
# vocab_oov_rate: tokenizer-vocabulary coverage. Phase 1 builds the top-V
# token vocabulary (map-side-combinable count agg; the global top-V is a
# TakeOrdered over per-partition top-Vs, never a full sort); phase 2 LEFT
# joins the token stream against the BROADCAST vocabulary and aggregates
# per-document OOV counts. The rate is reported in exact integer
# per-10000 units (truncating div) — no float division anywhere, so the
# oracle replay is grid-exact. At 100 TB the vocab is a few KB broadcast
# to every executor; the corpus side never shuffles before its per-doc agg.
# ---------------------------------------------------------------------------

_VOCAB_V = 128

_VOCAB_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS t
      FROM documents WHERE {HAS_TEXT_SQL}
    ),
    vocab AS (
      SELECT t FROM (SELECT t, count(*) AS c FROM tok GROUP BY t)
      ORDER BY c DESC, t ASC LIMIT {_VOCAB_V}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.t IS NULL) AS BIGINT) AS n_oov,
           CAST(count(*) FILTER (WHERE v.t IS NULL) * 10000 // count(*)
                AS BIGINT) AS oov_per_10k
    FROM tok LEFT JOIN vocab v USING (t)
    GROUP BY doc_id
"""


@query("vocab_oov_rate", _VOCAB_SQL)
def vocab_oov_rate(spark, sf_dir):
    """Per-document out-of-vocabulary rate against the corpus top-128
    token vocabulary (ties broken token-ascending so the boundary is
    pinned). Rate in integer per-10000 units — exact cross-engine."""
    docs = _t(spark, sf_dir, "documents").filter(has_text(F.col("text")))
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(_VOCAB_V)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 10000 DIV n_tokens").cast("long").alias("oov_per_10k"),
        )
    )


# ---------------------------------------------------------------------------
# kg_skew_pairs: the skew-aware blocking self-join, driver-verified
# ---------------------------------------------------------------------------

_SKEW_PAIRS_SQL = """
    WITH m AS (SELECT greatest(1, count(*) // 1200) AS k FROM documents),
    d AS (SELECT lang, doc_id FROM documents, m WHERE doc_id % m.k = 0)
    SELECT l.lang AS lang,
           l.doc_id AS doc_id_l,
           r.doc_id AS doc_id_r
    FROM d l JOIN d r
      ON l.lang = r.lang
     AND CAST(l.doc_id AS VARCHAR) < CAST(r.doc_id AS VARCHAR)
"""


@query("kg_skew_pairs", _SKEW_PAIRS_SQL)
def kg_skew_pairs(spark, sf_dir):
    """Blocking self-join through ``skew_aware_self_join`` (north_rule's
    salted self-join, round-4 adaptive form): documents blocked on
    ``lang``, where the en block exceeds ``hot_threshold`` and takes the
    salted path (split across n_salt reducers) while the minority langs
    stay on the plain equi-join. The oracle is the UNSALTED pair set —
    adaptive salting must be invisible in the result. Pair order pins to
    the string form of doc_id (the operator's uid), replayed with an
    explicit CAST in the SQL.

    Pair emission is quadratic in the block BY DESIGN (that is what the
    salting defends), so the registry form pairs a bounded deterministic
    sample — keep doc_id % k == 0 with k = max(1, n_docs // 1200), the
    same arithmetic in both engines — because the driver compare COLLECTS
    both sides: at sf1 the unsampled en block alone emits ~10^9 pairs
    (6.7 GiB of task results, past any driver's maxResultSize;
    BENCH/driver_sim_sf1_r05.log round-5 finding). At sf0.01 (the
    driver's gate) k=1: identical to the unsampled form. Production pair
    joins write to a sink and never collect."""
    from .operators.canonicalize import skew_aware_self_join

    docs = _t(spark, sf_dir, "documents")
    k = max(1, docs.count() // 1200)  # bounded 1-row scalar, both engines
    d = docs.filter(F.col("doc_id") % k == 0).select("lang", "doc_id")
    return skew_aware_self_join(
        d, "lang", hot_threshold=100, n_salt=4, id_col="doc_id"
    )
