"""Text analysis: language ID, quality scoring, token stats, fingerprints.

All pure column expressions (JVM-side) so they run at scan speed — these
are the per-document map stages of a training-data pipeline and must never
leave whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import ngrams, tokens

#: tiny per-language stopword sets for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "fr": ("le", "la", "et", "les", "de"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "la", "los", "y", "de"),
    "zh": ("的", "了", "是", "在", "我"),
}

FP_P = 1_000_000_007


def stopword_hits(col: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def lang_scores(col: Column) -> dict[str, Column]:
    return {lang: stopword_hits(col, ws) for lang, ws in LANG_STOPWORDS.items()}


def predict_lang(col: Column) -> Column:
    """argmax of stopword hits, ties broken by language code order; no hit
    at all -> 'und' (undetermined)."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / uppercase features + a composite
    quality score in [0,1] for filter thresholds."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    punct = n_chars - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))
    upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    stop_en = stopword_hits(t, LANG_STOPWORDS["en"])
    quality = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_en / F.greatest(n_tokens, F.lit(1)) * 5, F.lit(1.0)) * 0.3
        + (1 - F.least(punct / F.greatest(n_chars, F.lit(1)) * 10, F.lit(1.0))) * 0.3
    )

    # cross-engine 4-decimal rounding via floor(x*1e4 + 0.5): Spark's
    # round(double, n) rounds the SHORTEST decimal repr (BigDecimal.valueOf
    # -> 0.84025 -> 0.8403) while DuckDB rounds the true binary value
    # (0.84024999... -> 0.8402) — a one-ULP landmine that hash-diverged one
    # row in 50k at sf1 (BENCH/driver_sim_sf1_r05.log). floor of the same
    # IEEE double is engine-independent.
    def r4(col):
        return F.floor(col * 10000 + F.lit(0.5)) / 10000.0

    return df.select(
        "*",
        n_tokens.cast("long").alias("n_tokens"),
        r4(punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        r4(upper / F.greatest(n_chars, F.lit(1))).alias("upper_ratio"),
        r4(stop_en / F.greatest(n_tokens, F.lit(1))).alias("stopword_ratio"),
        r4(quality).alias("quality"),
    )


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: word pieces split on non-alnum plus a
    length-based surcharge (a word of n chars ~ ceil(n/4) BPE tokens)."""
    pieces = F.filter(F.split(col, r"[^\p{L}\p{N}]+"), lambda p: p != "")
    return F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.ceil(F.length(p) / 4.0).cast("long"),
    )


def tfidf_topk(df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k TF-IDF terms per document (score = tf * ln(N/df)).

    Shuffle plan: explode -> (doc, term) partial-agg count (map-side
    combine), df derived FROM the tf table (one row per (doc, term), so
    ``count(*) per term`` == document frequency — no second pass over raw
    tokens), corpus size N as a broadcast 1-row frame, then a per-doc
    window for the top-k. The tf<->df join shuffles by term; df is NOT
    broadcast because at corpus scale the vocabulary is large.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z]+"), lambda t: t != ""
    )
    tf = (
        df.filter(F.col(text_col).isNotNull())
        .select(id_col, F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct(id_col).alias("__n"))
    from pyspark.sql import Window

    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf") * F.log(F.col("__n") / F.col("df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", F.round("score", 6).alias("score"), "rk")
    )


def bm25_topk(
    df: DataFrame,
    k: int = 10,
    n_query_terms: int = 8,
    min_term_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval (Robertson/Okapi, k1=1.2 b=0.75): top-k documents per
    query term, query terms = the corpus's ``n_query_terms`` highest-df
    terms of length >= ``min_term_len`` (deterministic: df desc, term asc).

    Exactness: with k1=12/10 and b=3/4 the length-normalized tf is the
    integer rational 22*tf*S / (10*tf*S + 3*S + 9*dl*N) (S = corpus token
    count, N = docs, dl = doc length) and the Lucene idf is
    ln((2N+2)/(2df+1)) — ln is the ONLY transcendental, applied to an
    identically-rounded double ratio in both engines; ranking uses the
    round-6 score so rank is a function of the reported value.

    Shuffle plan: one (doc,term) partial agg feeds tf, dl (per-doc sum),
    df, and the query-term selection; query terms come from orderBy+limit
    (TakeOrderedAndProject — per-partition heaps, no global sort) and
    broadcast into a semi-filtering join, so the scored relation is
    |q-terms| * matching docs, never the full posting matrix; corpus
    totals ride a 1-row broadcast; top-k per term is a window over the
    tiny scored slice.
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z]+"), lambda t: t != ""
    )
    tf = (
        df.filter(F.col(text_col).isNotNull())
        .select(id_col, F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("dl").alias("__s")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        dfreq.filter(F.length("term") >= min_term_len)
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(n_query_terms)
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log((F.lit(2.0) * (F.col("__n") + 1)) / (F.lit(2) * F.col("df") + 1))
    tfn = (F.lit(22.0) * F.col("tf") * F.col("__s")) / (
        F.lit(10.0) * F.col("tf") * F.col("__s")
        + F.lit(3.0) * F.col("__s")
        + F.lit(9.0) * F.col("dl") * F.col("__n")
    )
    scored = scored.withColumn("score", F.round(idf * tfn, 6))
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("term", id_col, "tf", "df", "dl", "score", "rk")
    )


def repetition_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals: unique-word fraction plus the most
    frequent word and bigram with their mass fractions.

    The per-row bigram transform is a narrow pre-aggregation HOF (bounded by
    doc length, runs before any shuffle — NOT the post-agg interpreted-HOF
    pattern that anti-scales). Winners are picked with ``max(struct(cnt,
    value))`` so the aggregation keeps map-side combine and ties break
    deterministically toward the lexicographically larger value.
    """
    toks = tokens(F.col(text_col))
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            id_col,
            toks.alias("__toks"),
            F.size(toks).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= 2)
    )
    words = base.select(id_col, "n_tokens", F.explode("__toks").alias("w"))
    top_w = (
        words.groupBy(id_col, "n_tokens", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col, "n_tokens")
        .agg(
            F.max(F.struct(F.col("c"), F.col("w"))).alias("m"),
            F.count(F.lit(1)).cast("long").alias("n_uniq"),
        )
    )
    bigrams = base.select(id_col, "n_tokens", F.explode(ngrams("__toks", 2)).alias("bg"))
    top_bg = (
        bigrams.groupBy(id_col, "n_tokens", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max(F.struct(F.col("c"), F.col("bg"))).alias("mb"))
    )
    return (
        top_w.join(top_bg, id_col)
        .select(
            id_col,
            "n_tokens",
            F.round(F.col("n_uniq") / F.col("n_tokens"), 4).alias("uniq_word_frac"),
            F.col("m.w").alias("top_word"),
            F.round(F.col("m.c") / F.col("n_tokens"), 4).alias("top_word_frac"),
            F.col("mb.bg").alias("top_bigram"),
            F.round(F.col("mb.c") / (F.col("n_tokens") - 1), 4).alias("top_bigram_frac"),
        )
    )


#: regex subset valid in BOTH Java regex (Spark) and RE2 (DuckDB)
PII_EMAIL_RE = "[a-z0-9]+@[a-z0-9.]+[a-z]"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"


def pii_redact(df: DataFrame, text_col: str = "aug_text") -> DataFrame:
    """Detect and redact email/phone PII: match counts plus the redacted
    text (emitted as md5 to keep result rows compact). Pure JVM regex —
    scan-speed map stage."""
    t = F.col(text_col)
    red = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return df.select(
        "*",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
    )


def doc_fingerprint(col: Column) -> Column:
    """Order-sensitive rolling hash over the token stream (content
    fingerprint; same token sequence <=> same fingerprint mod collisions).

    h = fold(tokens, 0, h*31 + len(tok)*7 + ascii(tok[0])) mod P — kept in
    [0, P) so 64-bit arithmetic never overflows (ANSI-safe), and expressible
    identically in ANSI SQL for the oracle.
    """
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, tok: F.pmod(
            acc * 31 + F.length(tok) * 7 + F.ascii(F.substring(tok, 1, 1)),
            F.lit(FP_P),
        ),
    )
