"""S4 relation extraction: co-mention pairs -> (subj, pred, obj) triples.

No reference counterpart (SURVEY.md §2 "capability gaps") — this is the
north_star stage that turns the consensus mention layer into KG triples.

Design: a *within-document* self-join of mentions (equi-key doc_uid, range
predicate on character gap), then the predicate is read off the connecting
text with JVM-side substring + regexp — pure column expressions, no UDF.
The join keys on doc_uid, which the consensus output is already partitioned
by, so the self-join is co-located (no exchange beyond what S3 already paid);
per-doc mention counts are tiny and bounded, so the quadratic blow-up per
doc is bounded too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: connecting-text pattern -> predicate, first match wins (checked in order).
#: NB: patterns run under BOTH Java regex (rlike) and Python re (the oracle);
#: they avoid \b next to accented letters, where the two engines disagree.
PRED_RULES = (
    (r"organisé par", "organized_by"),
    (r"annonce un accord avec", "partner_of"),
    (r"\bvisite\b", "visited"),
    (r"\bsuit\b", "follows"),
    (r"\bavec\b", "with"),
    (r"figure de", "figure_of"),
    (r"(^| )(à|en)( |$)", "located_in"),
)

MAX_GAP = 60  # max chars between the two mentions


def instance_triples(mentions: DataFrame) -> DataFrame:
    """Every mention asserts (NE, instance_of, label) — the flagship minimal
    triple form (SURVEY.md §7 build step 2)."""
    return (
        mentions.select(
            F.col("NE").alias("subj"),
            F.lit("instance_of").alias("pred"),
            F.col("label").alias("obj"),
            "doc_uid",
            "method",
        )
        .groupBy("doc_uid", "subj", "pred", "obj")
        .agg(F.min("method").alias("method"))
        .select("subj", "pred", "obj", "doc_uid", "method")
    )


def relation_triples(
    mentions: DataFrame,
    docs: DataFrame,
    rules: tuple = PRED_RULES,
) -> DataFrame:
    """Pairwise co-mention relations within a document.

    ``docs`` supplies (doc_uid, text) for the connecting substring.
    Subject/object ordering follows text order (a before b), mirroring how
    the reference walks documents strictly in offset order (SURVEY.md §1.2).
    """
    # attach the ≤MAX_GAP chars after each mention ONCE (per mention, not
    # per pair): the pair join then never touches the full document text.
    # Only the LEFT (subject) side reads the connecting text, so only it
    # pays the docs join — the right side is the bare mention table (the
    # naive formulation joined docs onto both sides, executing the wide
    # text-carrying shuffle join twice per run).
    a_src = (
        mentions.select("doc_uid", "NE", "start", "end", "method")
        .join(docs.select("doc_uid", "text"), "doc_uid")
        .withColumn(
            "after",
            F.col("text").substr(F.col("end") + 1, F.lit(MAX_GAP)),
        )
        .drop("text")
    )
    # position-block bucketing: a qualifying pair has b.start within
    # [a.end, a.end+MAX_GAP], i.e. b's start-block is a's end-block or the
    # next one — joining on (doc_uid, block) prunes the per-doc quadratic
    # pair blow-up to near-neighbors only (mention-dense docs would
    # otherwise dominate the stage)
    a = a_src.withColumn(
        "_blk",
        F.explode(
            F.array(
                F.floor(F.col("end") / MAX_GAP),
                F.floor(F.col("end") / MAX_GAP) + 1,
            )
        ),
    ).alias("a")
    b = (
        mentions.select("doc_uid", "NE", "start", "end", "method")
        .withColumn("_blk", F.floor(F.col("start") / MAX_GAP))
        .alias("b")
    )
    pairs = (
        a.join(b, (F.col("a.doc_uid") == F.col("b.doc_uid")) & (F.col("a._blk") == F.col("b._blk")))
        .filter(
            (F.col("a.end") <= F.col("b.start"))
            & (F.col("b.start") - F.col("a.end") <= MAX_GAP)
            & (
                (F.col("a.start") != F.col("b.start"))
                | (F.col("a.end") != F.col("b.end"))
            )
        )
        .select(
            F.col("a.doc_uid").alias("doc_uid"),
            F.col("a.NE").alias("subj"),
            F.col("a.end").alias("a_end"),
            F.col("a.method").alias("a_method"),
            F.col("a.after").alias("after"),
            F.col("b.NE").alias("obj"),
            F.col("b.start").alias("b_start"),
            F.col("b.method").alias("b_method"),
        )
    )
    between = F.col("after").substr(
        F.lit(1), (F.col("b_start") - F.col("a_end")).cast("int")
    )
    pred = F.lit(None).cast("string")
    for rx, name in reversed(rules):
        pred = F.when(between.rlike(rx), F.lit(name)).otherwise(pred)
    return (
        pairs.select(
            "subj",
            pred.alias("pred"),
            "obj",
            "doc_uid",
            F.concat_ws("+", F.col("a_method"), F.col("b_method")).alias("method"),
        )
        .filter(F.col("pred").isNotNull() & (F.col("subj") != F.col("obj")))
        # pinned survivor (min method) instead of dropDuplicates' arbitrary row
        .groupBy("doc_uid", "subj", "pred", "obj")
        .agg(F.min("method").alias("method"))
        .select("subj", "pred", "obj", "doc_uid", "method")
    )


def extract_triples(mentions: DataFrame, docs: DataFrame) -> DataFrame:
    inst = instance_triples(mentions)
    rel = relation_triples(mentions, docs)
    return inst.unionByName(rel)
