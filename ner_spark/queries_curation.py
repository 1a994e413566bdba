"""Training-data curation ops: intra-document repetition filtering and
gazetteer-driven anonymization.

Two curation stages every large-scale pretraining pipeline runs that the
quality batch (textstats) did not yet cover:

- ``doc_repetition_filter`` — the Gopher/RefinedWeb-style repetition
  signal: the fraction of a document's 3-grams that are duplicates and the
  mass of its single most frequent 3-gram. Highly repetitive documents
  (boilerplate, templated spam, degenerate generations) are the classic
  pretraining poison. Pure column expressions: the trigram list is built
  with ``transform`` over the token array (JVM, no UDF), exploded once,
  and aggregated per document — map-side combinable, shuffles only the
  (doc, trigram) pairs.

- ``doc_anonymize`` — redact every PER-labeled gazetteer surface form
  with a ``[PER]`` placeholder before export. The pattern is GENERATED
  from the same gazetteer the KG pipeline links against (flagship._GAZ),
  so anonymization and entity linking share one vocabulary by
  construction. One ``regexp_replace`` per row, no joins, no shuffle at
  all — a pure map stage that scales linearly with input splits.

Both oracles replay in DuckDB: the trigram stream via window ``lead``
over ordered unnested tokens, the redaction via the identical RE2 pattern
with the 'g' flag (Spark's regexp_replace is global by default).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .flagship import _GAZ
from .functions.text import ngrams, normalize_ws
from .queries import _t, normalize_ws_sql, query

#: PER surface forms from the shared gazetteer, longest-first so regex
#: alternation cannot shadow a longer alias with a shorter prefix
_PER_ALIASES = sorted(
    (a for _e, a, label, _w in _GAZ if label == "PER"), key=lambda a: (-len(a), a)
)
_PER_RX = r"\b(" + "|".join(_PER_ALIASES) + r")\b"

#: Gopher-style keep threshold: documents whose duplicate-trigram mass
#: exceeds this fraction are flagged for drop
_DUP_FRAC_MAX = 0.20


@query(
    "doc_repetition_filter",
    f"""
    WITH t AS (
      SELECT doc_id,
             string_split({normalize_ws_sql('text')}, ' ')
               AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    tok AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i,
             len(toks) AS n
      FROM t
    ),
    tg AS (
      SELECT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
               AS trigram,
             i, n
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    cnt AS (
      SELECT doc_id, trigram, count(*) AS c
      FROM tg WHERE i + 2 <= n
      GROUP BY doc_id, trigram
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_trigrams,
           round(coalesce(sum(c) FILTER (WHERE c > 1), 0)
                 / CAST(sum(c) AS DOUBLE), 4) AS dup_frac,
           round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_frac,
           (coalesce(sum(c) FILTER (WHERE c > 1), 0)
            / CAST(sum(c) AS DOUBLE)) <= {_DUP_FRAC_MAX} AS keep
    FROM cnt
    GROUP BY doc_id
    """,
)
def doc_repetition_filter(spark, sf_dir):
    """Per-document duplicate-trigram mass + top-trigram mass, with the
    Gopher-style keep flag. Trigram construction and counting stay inside
    whole-stage codegen; the only shuffle carries (doc_id, trigram)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.split(normalize_ws(F.col("text")), " ").alias("toks"),
    )
    tg = toks.select("doc_id", F.explode(ngrams("toks", 3)).alias("trigram"))
    cnt = tg.groupBy("doc_id", "trigram").agg(F.count(F.lit(1)).alias("c"))
    dup = F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
    tot = F.sum("c").cast("double")
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_trigrams"),
        F.round(dup / tot, 4).alias("dup_frac"),
        F.round(F.max("c") / tot, 4).alias("top_frac"),
        ((dup / tot) <= F.lit(_DUP_FRAC_MAX)).alias("keep"),
    )


@query(
    "doc_anonymize",
    f"""
    SELECT doc_id,
           regexp_replace(text, '{_PER_RX}', '[PER]', 'g') AS anon_text,
           CAST(len(regexp_extract_all(text, '{_PER_RX}')) AS BIGINT)
             AS n_redacted
    FROM documents WHERE text IS NOT NULL
    """,
)
def doc_anonymize(spark, sf_dir):
    """Redact PER-labeled gazetteer surface forms before export. The
    pattern derives from the SAME gazetteer the linking stage broadcasts,
    so the privacy scrub and the KG share one vocabulary. Shuffle-free map
    stage; n_redacted counts the replaced mentions per document."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.regexp_replace("text", _PER_RX, "[PER]").alias("anon_text"),
        F.size(F.regexp_extract_all("text", F.lit(_PER_RX), 0))
        .cast("long")
        .alias("n_redacted"),
    )
