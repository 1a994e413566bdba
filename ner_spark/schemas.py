"""Fixed schemas for every table in the pipeline.

The reference infers all schemas dynamically from dict keys / Excel headers
(reference: src/utils/casen_config.py:283-308, src/utils/ner_config.py:41).
We declare them up front (SURVEY.md §1.3): the data-dependent ``grf_1..grf_n``
wide columns become a single ``grfs: array<string>``, the ``files_id`` tuple
becomes ``array<long>`` and the ``pos`` tuple a ``struct<start,end>``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: interleaved text + media documents (BASELINE.json:input_hint)
# ---------------------------------------------------------------------------
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # "text" | "media"
        T.StructField("text", T.StringType(), True),  # set when kind="text"
        T.StructField("media_ref", T.StringType(), True),  # set when kind="media"
        T.StructField("offset", T.IntegerType(), False),  # ordering key
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), True),
    ]
)

# ---------------------------------------------------------------------------
# Normalized / deduped documents (S0 + S1)
# ---------------------------------------------------------------------------
# files_id: all source doc_ids whose text is identical, ascending — the Spark
# form of the reference's files_id tuple (reference: src/utils/epg_cleaner.py:66-69).
CLEAN_DOCS = T.StructType(
    [
        T.StructField("doc_uid", T.StringType(), False),  # min(doc_id) of group
        T.StructField("text", T.StringType(), False),  # normalized concat text
        T.StructField("files_id", T.ArrayType(T.StringType()), False),
        T.StructField("spans", T.ArrayType(SPAN), True),  # representative spans
    ]
)

# ---------------------------------------------------------------------------
# Mentions (one per detected entity occurrence) — common to all extractors
# (reference: src/utils/casen_config.py:283-308, spacy_config.py:141-167)
# ---------------------------------------------------------------------------
POS = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]
)

MENTION = T.StructType(
    [
        T.StructField("NE", T.StringType(), False),  # surface form
        T.StructField("label", T.StringType(), False),  # PER/LOC/ORG/MISC/...
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("grfs", T.ArrayType(T.StringType()), True),  # matcher rule ids
    ]
)

MENTIONS = T.StructType(
    [
        T.StructField("doc_uid", T.StringType(), False),
        T.StructField("NE", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("grfs", T.ArrayType(T.StringType()), True),
        T.StructField("context", T.StringType(), True),  # ±window chars
    ]
)

# ---------------------------------------------------------------------------
# Gazetteer / alias dictionary (linking dimension; FIXTURES.md F2)
# ---------------------------------------------------------------------------
GAZETTEER = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("alias", T.StringType(), False),
        T.StructField("alias_norm", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("weight", T.DoubleType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Pattern bank (CasEN-graph analogue; FIXTURES.md F3)
# ---------------------------------------------------------------------------
PATTERN = T.StructType(
    [
        T.StructField("pattern_id", T.StringType(), False),
        T.StructField("regex", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Corrections (manual dimension table; reference: src/utils/ner_config.py:200-307)
# ---------------------------------------------------------------------------
CORRECTIONS = T.StructType(
    [
        T.StructField("NE", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("files_id", T.StringType(), False),  # scalar doc id
        T.StructField("manual_cat", T.StringType(), True),
        T.StructField("correct", T.IntegerType(), True),
        T.StructField("extent", T.IntegerType(), True),
        T.StructField("NER_category", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Triples (S4 output) + linked/canonical entities (S5/S6)
# ---------------------------------------------------------------------------
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("doc_uid", T.StringType(), False),
        T.StructField("method", T.StringType(), True),
    ]
)

LINKED = T.StructType(
    [
        T.StructField("doc_uid", T.StringType(), False),
        T.StructField("NE", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), True),
        T.StructField("link_score", T.DoubleType(), True),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
    ]
)
