"""All three extractors in ONE Arrow pass (hot-path optimization).

Three separate pandas UDFs mean three JVM->Python Arrow transfers of the
same document text and three explodes feeding the consensus union. Since
every extractor scans the same batch, one UDF can run all three matchers
per batch and emit mentions already tagged with (method, rank) — one
transfer, one explode, identical output to the three-pass formulation
(asserted by the golden tests, which compare against the pandas oracle's
per-tagger tables).

Reference contrast: the reference runs its taggers as three separate
full-corpus passes with per-stage materialization (consensus.ipynb cells
3-5); the fused batch scan is the Spark-idiomatic equivalent of its
"single-corpus batching" optimization (SURVEY.md §4 O2/O3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..functions.text import context_window
from .casen import _COMPILED as _RULE_CACHE
from .casen import _compile, _scan_doc, gazetteer_rows, pattern_rows
from .model_stub import _stub_scan

TAGGED_MENTION = T.StructType(
    [*schemas.MENTION.fields, T.StructField("method", T.StringType(), False),
     T.StructField("rank", T.IntegerType(), False)]
)


def combined_mentions(
    docs: DataFrame,
    gazetteer: DataFrame,
    patterns: DataFrame,
    gaz_grf: dict[str, str] | None = None,
    source_order: tuple[str, ...] = ("casEN", "spaCy", "stanza"),
    skip_mod: int = 4,
    flip_mod: int = 20,
    window: int = 30,
    passthrough_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_uid, text) -> ranked MENTIONS rows for all systems, one pass.

    ``passthrough_cols`` are carried from ``docs`` into the output
    projection unchanged (e.g. ``event_ts`` on the streaming path, which
    would otherwise need an unbounded stream-stream self-join to reattach).
    """
    if gaz_grf is None:
        from ..synth import GAZ_GRF as gaz_grf

    payload = (
        gazetteer_rows(gazetteer),
        pattern_rows(patterns),
        tuple(sorted(gaz_grf.items())),
    )
    model_sources = [
        (rank, name) for rank, name in enumerate(source_order) if name != "casEN"
    ]
    rule_rank = source_order.index("casEN")

    @F.pandas_udf(T.ArrayType(TAGGED_MENTION))
    def extract(doc_uids: pd.Series, texts: pd.Series) -> pd.Series:
        key = hash(payload)
        if key not in _RULE_CACHE:
            _RULE_CACHE[key] = _compile(list(payload[0]), list(payload[1]))
        gaz_re, by_surface, pats = _RULE_CACHE[key]
        grf_map = dict(payload[2])
        out = []
        for uid, text in zip(doc_uids, texts):
            if not text:
                out.append([])
                continue
            ms = [
                {**m, "method": "casEN", "rank": rule_rank}
                for m in _scan_doc(text, gaz_re, by_surface, pats, grf_map)
            ]
            for rank, name in model_sources:
                ms.extend(
                    {**m, "method": name, "rank": rank}
                    for m in _stub_scan(
                        uid, text, gaz_re, by_surface, skip_mod, flip_mod, name
                    )
                )
            out.append(ms)
        return pd.Series(out)

    m = F.explode(extract(F.col("doc_uid"), F.col("text"))).alias("m")
    pt = [F.col(c) for c in passthrough_cols]
    return docs.select(F.col("doc_uid"), F.col("text"), *pt, m).select(
        "doc_uid",
        *passthrough_cols,
        F.col("m.NE").alias("NE"),
        F.col("m.label").alias("label"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.method").alias("method"),
        F.col("m.grfs").alias("grfs"),
        context_window(F.col("text"), F.col("m.start"), F.col("m.end"), window).alias("context"),
        F.col("m.rank").alias("_rank"),
    )
