"""CasEN-format XML mention scan (SURVEY.md §2 A4/A5/U1).

Ingest path for the reference's interchange format: documents serialized as
``<root><doc id="(ids)">text with inline entity markup</doc>...</root>``
where entities nest (``<persName><surname>..</surname></persName>``) and
carry ``grf`` attributes naming the rule graph that fired
(reference: src/utils/casen_config.py:141-176 writer, :226-314 parser;
fixture pair src/Results/Corpus + src/Results/CasEN/Res_CasEN).

Semantics reproduced (reference: casen_config.py:241-270):
- mention char offsets accumulate over *text* content only, in document
  order (the span-order invariant of SURVEY.md §1.2);
- an *outermost* entity is any tag not in the ignore set whose ancestors
  are all ignored tags; nested tags contribute their (tag, grf) pairs to
  the outermost mention but do not emit their own mention;
- tag -> label via the PER/LOC/ORG tag map, falling back to the grf ->
  label map, else "Undefined" (reference: config.yaml labels / labels_grf);
- doc ids parse from the escaped tuple ``"(699\\,)"`` form
  (reference: casen_config.py:191-207).

Implementation is a tolerant tag-stream tokenizer on the Python side of an
Arrow batch (this container has no lxml/bs4; CasEN output is not always
well-formed XML, so a recovering tokenizer is the right tool anyway). The
Spark surface is ``spark.read.text(dir, wholetext=True)`` -> pandas UDF ->
``explode`` — one Arrow transfer per file batch, no driver-side parsing.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: structural tags that never emit mentions (reference: casen_config.py:251-253)
IGNORE_TAGS = {"root", "doc", "s", "p", "html", "body"}

#: entity tag -> label (reference: src/config.yaml `labels`)
TAG_LABELS = {
    **{t: "PER" for t in ("persName", "surname", "forename", "addName",
                           "nationality", "demonym", "genName", "name")},
    **{t: "LOC" for t in ("placeName", "geogName", "adress", "adrLine", "place")},
    **{t: "ORG" for t in ("orgName", "geogFeat", "event", "vieuxSigle")},
}

#: grf -> label fallback (reference: src/config.yaml `labels_grf`)
GRF_LABELS = {
    **{g: "PER" for g in ("grfpersGenerique", "grfpersPrenomNom")},
    **{g: "LOC" for g in ("grfplaceBatiment", "grfgeog", "grfplaceQuartier")},
    **{g: "ORG" for g in ("grforgProximite", "grforgPolice", "grforgSeule")},
    "grfpersAmbigus": "MISC",
}

_TOKEN = re.compile(r"<(/?)([A-Za-z_][\w.-]*)((?:\s+[\w:-]+=\"[^\"]*\")*)\s*(/?)>")
_ATTR = re.compile(r"([\w:-]+)=\"([^\"]*)\"")
_DOC = re.compile(r"<doc\b[^>]*\bid=\"([^\"]*)\"[^>]*>(.*?)</doc>", re.S)

CASEN_MENTION = T.StructType(
    [
        T.StructField("NE", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("grfs", T.ArrayType(T.StringType()), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
    ]
)

CASEN_DOC = T.StructType(
    [
        T.StructField("doc_ids", T.ArrayType(T.LongType()), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("mentions", T.ArrayType(CASEN_MENTION), False),
    ]
)


def parse_doc_id(raw: str) -> list[int]:
    """'(699\\,)' / '(1\\, 2)' -> [699] / [1, 2]."""
    cleaned = raw.replace("\\", "")
    return [int(x) for x in re.findall(r"-?\d+", cleaned)]


def parse_tagged_text(markup: str) -> tuple[str, list[dict]]:
    """One doc's inline-tagged markup -> (plain text, outermost mentions).

    Tolerant: unknown closes are ignored, unclosed tags are closed at EOF.
    """
    text_parts: list[str] = []
    offset = 0
    mentions: list[dict] = []
    # stack entries: [tag, grf, start_offset, tags_acc, grfs_acc] for
    # non-ignored tags only
    stack: list[list] = []
    pos = 0
    for m in _TOKEN.finditer(markup):
        chunk = markup[pos : m.start()]
        if chunk:
            text_parts.append(chunk)
            offset += len(chunk)
        pos = m.end()
        closing, tag, attrs_raw, selfclose = m.groups()
        if tag in IGNORE_TAGS:
            continue
        if closing:
            # pop the innermost matching open; ignore stray closes
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    entry = stack.pop(i)
                    if stack:
                        # nested: fold tags/grfs into the outermost entry
                        stack[0][3].extend(entry[3])
                        stack[0][4].extend(entry[4])
                    else:
                        mentions.append(
                            {
                                "start": entry[2],
                                "end": offset,
                                "tags": entry[3],
                                "grfs": entry[4],
                            }
                        )
                    break
            continue
        grf = dict(_ATTR.findall(attrs_raw)).get("grf")
        entry = [tag, grf, offset, [tag], [grf] if grf else []]
        if selfclose:
            if stack:
                stack[0][3].extend(entry[3])
                stack[0][4].extend(entry[4])
            else:
                mentions.append(
                    {"start": offset, "end": offset, "tags": entry[3], "grfs": entry[4]}
                )
        else:
            stack.append(entry)
    tail = markup[pos:]
    if tail:
        text_parts.append(tail)
        offset += len(tail)
    while stack:  # unclosed at EOF
        entry = stack.pop()
        if stack:
            stack[0][3].extend(entry[3])
            stack[0][4].extend(entry[4])
        else:
            mentions.append(
                {"start": entry[2], "end": offset, "tags": entry[3], "grfs": entry[4]}
            )

    text = "".join(text_parts)
    out = []
    for mn in sorted(mentions, key=lambda d: (d["start"], d["end"])):
        ne = text[mn["start"] : mn["end"]]
        label = TAG_LABELS.get(mn["tags"][0]) if mn["tags"] else None
        if label is None:
            label = next(
                (GRF_LABELS[g] for g in mn["grfs"] if g in GRF_LABELS), "Undefined"
            )
        out.append(
            {
                "NE": ne,
                "label": label,
                "start": mn["start"],
                "end": mn["end"],
                "grfs": mn["grfs"] or None,
                "tags": mn["tags"],
            }
        )
    return text, out


def parse_result_file(content: str) -> list[dict]:
    """Whole result file -> list of CASEN_DOC dicts."""
    docs = []
    for m in _DOC.finditer(content):
        ids = parse_doc_id(m.group(1))
        text, mentions = parse_tagged_text(m.group(2))
        docs.append({"doc_ids": ids, "text": text, "mentions": mentions})
    return docs


def scan_casen_results(spark: SparkSession, path: str) -> DataFrame:
    """A4+A5+U1: result folder -> one row per document with mention array.

    ``spark.read.text(wholetext=True)`` gives one row per file; the parser
    runs batch-at-a-time in a pandas UDF and the per-file doc array is
    exploded JVM-side.
    """
    files = spark.read.text(path, wholetext=True)

    @F.pandas_udf(T.ArrayType(CASEN_DOC))
    def parse(contents: pd.Series) -> pd.Series:
        return contents.map(parse_result_file)

    return (
        files.select(F.explode(parse(F.col("value"))).alias("d"))
        .select(
            F.col("d.doc_ids").alias("doc_ids"),
            F.col("d.text").alias("text"),
            F.col("d.mentions").alias("mentions"),
        )
    )


def parse_casen_markup(df: DataFrame, markup_col: str = "markup") -> DataFrame:
    """Parse a CasEN markup *column* (one ``<doc>`` string per row) with the
    same tokenizer as the file scan — lets tests and driver queries run the
    U1 parser over deterministically constructed markup without touching
    the filesystem. Same Arrow batching as scan_casen_results."""

    @F.pandas_udf(T.ArrayType(CASEN_DOC))
    def parse(contents: pd.Series) -> pd.Series:
        return contents.map(parse_result_file)

    return df.select(F.explode(parse(F.col(markup_col))).alias("d")).select(
        F.col("d.doc_ids").alias("doc_ids"),
        F.col("d.text").alias("text"),
        F.col("d.mentions").alias("mentions"),
    )


def corpus_markup(doc_ids_col, text_col) -> "F.Column":
    """One doc's corpus serialization: ``<doc id="(1\\, 2\\,)">text</doc>``
    (reference writer: casen_config.py:151-157 — ids joined with escaped
    commas, trailing escape for singletons)."""
    ids = F.concat_ws("\\, ", F.transform(doc_ids_col, lambda i: i.cast("string")))
    ids = F.when(F.size(doc_ids_col) == 1, F.concat(ids, F.lit("\\,"))).otherwise(ids)
    return F.concat(
        F.lit('<doc id="('), ids, F.lit(')">'), text_col, F.lit("</doc>")
    )


def write_corpus(
    docs: DataFrame,
    out_dir: str,
    mode: str = "single",
    collection_col: str | None = None,
) -> None:
    """A3: corpus text sink in the reference's three modes
    (reference: casen_config.py:141-176):

    - ``single``: one merged corpus file (the reference's fast path,
      README.md:30-42) -> coalesce(1) text write wrapped in <root>;
    - ``multiple``: one file per document -> partitionBy(doc key);
    - ``collection``: one file per collection group.

    At scale ``single`` becomes "few big files" (coalesce(k)); the format
    is only consumed by the external CasEN tool, which the engine replaces
    (SURVEY.md §2 U4), so this sink exists for interchange parity.
    """
    markup = docs.select(
        F.col("doc_uid"),
        corpus_markup(F.col("files_id"), F.col("text")).alias("value"),
    )
    if mode == "single":
        wrapped = markup.select("value").coalesce(1)
        wrapped.write.mode("overwrite").text(out_dir)
        return
    if mode == "multiple":
        markup.withColumn("doc", F.col("doc_uid")).select("doc", "value").write.mode(
            "overwrite"
        ).partitionBy("doc").text(out_dir)
        return
    if mode == "collection":
        assert collection_col, "collection mode needs collection_col"
        docs.select(
            F.col(collection_col).alias("collection"),
            corpus_markup(F.col("files_id"), F.col("text")).alias("value"),
        ).write.mode("overwrite").partitionBy("collection").text(out_dir)
        return
    raise ValueError(f"unknown corpus mode: {mode}")
