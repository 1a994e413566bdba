"""The mention extractor: every tagger in ONE Arrow pass per batch.

The extractor is a *pandas UDF* over the deduped document text: Arrow moves
whole batches across the JVM/Python boundary, the Python side runs every
tagger over the batch, and the mentions come back already tagged with
(method, rank) in one ``array<struct>`` column that Spark explodes
JVM-side — one transfer, one explode, no per-row Python on the driver, no
collect. The ±window context (reference: casen_config.py:276-279) is a
JVM-side substring after the explode, cheaper than shipping it through
Arrow, and Catalyst prunes it when the consumer does not select it.

Per batch the rule system ("casEN") scans each document; each model source
("spaCy", "stanza") runs its real model over the whole batch when the
driver probe found one (``use_model``), else its deterministic stub
(model_stub.py). Every entry point — the pipeline and the flagship
queries — goes through this one function, so they all route to a real
model the same way.

Reference contrast: the reference runs its taggers as three separate
full-corpus passes with per-stage materialization (consensus.ipynb cells
3-5), driving them with ``iterrows`` on the driver
(reference: src/utils/spacy_config.py:136) or one giant concat string
(reference: src/utils/stanza_config.py:111-124); the fused batch scan is
the Spark-idiomatic equivalent of its "single-corpus batching"
optimization (SURVEY.md §4 O2/O3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..functions.text import context_window
from ..operators.consensus import SOURCE_ORDER
from ..synth import GAZ_GRF
from .casen import _compile, _scan_doc, gazetteer_rows, pattern_rows
from .model_stub import MODELS, _stub_scan

TAGGED_MENTION = T.StructType(
    [*schemas.MENTION.fields, T.StructField("method", T.StringType(), False),
     T.StructField("rank", T.IntegerType(), False)]
)

# per-worker compiled matcher cache, keyed by hash of the broadcast payload
_COMPILED: dict[int, tuple] = {}


def combined_mentions(
    docs: DataFrame,
    gazetteer: DataFrame,
    patterns: DataFrame,
    source_order: tuple[str, ...] = SOURCE_ORDER,
    use_model: bool | None = None,
) -> DataFrame:
    """(doc_uid, text) -> ranked MENTIONS rows for all systems, one pass.

    Emits the sources named in ``source_order`` (default: the consensus
    fold order ``SOURCE_ORDER``), with ``_rank`` = their position in it;
    other names hold a rank but emit nothing. ``gazetteer``/``patterns``
    are small dimension tables, collected once on the driver and broadcast
    to the Python workers via the UDF closure (SURVEY.md §2 A2); the rule
    system's grf per label is ``synth.GAZ_GRF``.

    ``use_model=None`` probes the driver once per model source and routes
    it to the real model when one loads (spaCy ``fr_core_news_sm``, the
    Stanza fr pipeline); True/False force the real model or the stub. The
    stub uses the source name as its determinism salt, so the stubs
    disagree with each other and with the rule system in a controlled,
    seeded way (model_stub.py ``SKIP_MOD``/``FLIP_MOD``).
    """
    payload = (
        gazetteer_rows(gazetteer),
        pattern_rows(patterns),
        tuple(sorted(GAZ_GRF.items())),
    )
    sources = [
        (rank, name)
        for rank, name in enumerate(source_order)
        if name == "casEN" or name in MODELS
    ]
    real = {
        name
        for _, name in sources
        if name in MODELS and (MODELS[name][0]() if use_model is None else use_model)
    }

    @F.pandas_udf(T.ArrayType(TAGGED_MENTION))
    def extract(doc_uids: pd.Series, texts: pd.Series) -> pd.Series:
        key = hash(payload)
        if key not in _COMPILED:
            _COMPILED[key] = _compile(list(payload[0]), list(payload[1]))
        gaz_re, by_surface, pats = _COMPILED[key]
        grf_map = dict(payload[2])
        out = [[] for _ in range(len(texts))]
        for rank, name in sources:
            nlp = MODELS[name][1]() if name in real else None
            if name == "casEN":
                found = [
                    _scan_doc(t, gaz_re, by_surface, pats, grf_map) if t else []
                    for t in texts
                ]
            elif nlp is not None:
                found = MODELS[name][2](doc_uids, texts, nlp)
            else:
                found = [
                    _stub_scan(u, t, gaz_re, by_surface, name) if t else []
                    for u, t in zip(doc_uids, texts)
                ]
            for row, ms in zip(out, found):
                row.extend({**m, "method": name, "rank": rank} for m in ms)
        return pd.Series(out)

    m = F.explode(extract(F.col("doc_uid"), F.col("text"))).alias("m")
    return docs.select(F.col("doc_uid"), F.col("text"), m).select(
        "doc_uid",
        F.col("m.NE").alias("NE"),
        F.col("m.label").alias("label"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.method").alias("method"),
        F.col("m.grfs").alias("grfs"),
        context_window(F.col("text"), F.col("m.start"), F.col("m.end")).alias("context"),
        F.col("m.rank").alias("_rank"),
    )
