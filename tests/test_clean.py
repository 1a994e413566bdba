"""S0/S1: normalization, dedup-and-fan-out, span-sequence invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_spark.operators import clean as CL


def span_violations(input_docs, output_docs):
    """Span-sequence equality check (kind, text, media_ref, order).

    Returns rows whose offset-ordered span projection differs between input
    and output — must be empty for every pipeline output that carries spans.
    """
    proj = lambda c: F.transform(  # noqa: E731
        CL.sorted_spans(c), lambda s: F.struct(s["kind"], s["text"], s["media_ref"])
    )
    left = input_docs.select("doc_id", proj(F.col("spans")).alias("in_seq"))
    right = output_docs.select("doc_id", proj(F.col("spans")).alias("out_seq"))
    return left.join(right, "doc_id", "inner").filter(
        ~F.col("in_seq").eqNullSafe(F.col("out_seq"))
    )


def test_normalize_filters_empty_and_collapses_ws(spark):
    from ner_spark import schemas

    rows = [
        ("d1", [{"kind": "text", "text": "  a   b ", "media_ref": None, "offset": 0}]),
        ("d2", [{"kind": "text", "text": None, "media_ref": None, "offset": 0}]),
        (
            "d3",
            [
                {"kind": "text", "text": "fin", "media_ref": None, "offset": 2},
                {"kind": "media", "text": None, "media_ref": "img://x", "offset": 1},
                {"kind": "text", "text": "début", "media_ref": None, "offset": 0},
            ],
        ),
    ]
    df = spark.createDataFrame(rows, schema=schemas.DOCS)
    out = {r["doc_uid"]: r["text"] for r in CL.clean(df).collect()}
    assert out == {"d1": "a b", "d3": "début fin"}


def test_dedup_merges_identical_text_keeps_all_ids(spark, docs):
    cleaned = CL.clean(docs)
    n_unique = cleaned.count()
    n_nonempty = (
        CL.normalize_docs(docs)
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .count()
    )
    assert n_unique < n_nonempty  # generator guarantees ~20% duplicates
    # every source id accounted for exactly once
    fan = cleaned.select(F.explode("files_id").alias("doc_id"))
    assert fan.count() == n_nonempty
    assert fan.distinct().count() == n_nonempty
    # doc_uid is the smallest id of its group
    bad = cleaned.filter(F.col("doc_uid") != F.array_min("files_id"))
    assert bad.count() == 0


def test_span_sequence_invariant(spark, docs):
    cleaned = CL.clean(docs)
    # representative rows keep their original span sequence bit-for-bit
    out = cleaned.select(F.col("doc_uid").alias("doc_id"), "spans")
    violations = span_violations(docs, out)
    assert violations.count() == 0


def test_clean_deterministic_across_parallelism(spark, docs):
    a = CL.clean(docs.repartition(1)).collect()
    b = CL.clean(docs.repartition(7)).collect()
    key = lambda r: r["doc_uid"]  # noqa: E731
    sa = sorted(((r["doc_uid"], r["text"], r["files_id"]) for r in a))
    sb = sorted(((r["doc_uid"], r["text"], r["files_id"]) for r in b))
    assert sa == sb
