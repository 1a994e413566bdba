"""S5 entity linking: mentions vs alias dictionary (north_star stage).

Reference analogue: the degenerate label-lookup maps and excluded-names list
(SURVEY.md §2 G3/G4; reference: src/config.yaml:50-92). Generalized per the
north_star: score mentions against an alias dictionary *broadcast* to every
executor, with *blocking on normalized surface forms* — the join key is the
whitespace-collapsed lowercase surface, so only candidates in the same block
are scored.

Scale design (the north_rule names this join as THE skew point):
- the gazetteer is the small side -> explicit ``F.broadcast`` = map-side
  join, zero shuffle, immune to hot-key skew ("France" appearing 10^9 times
  never concentrates on one reducer because there is no reducer);
- best-candidate selection is a per-mention aggregation keyed by the mention
  key (superset of doc_uid -> reuses the consensus partitioning, no new
  shuffle), NOT a global window over surface forms (which would shuffle by
  the skewed key);
- the join always broadcasts: a dictionary that outgrows broadcast range
  needs a shuffle join on ``alias_norm`` instead (drop the ``F.broadcast``
  hint), where AQE skew-join splitting (enabled in session.py) splits
  oversized partitions; a salting utility for the pathological self-join
  case lives in canonicalize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_surface

LINK_KEY = ("doc_uid", "NE", "label", "start", "end")

#: score added when the dictionary label agrees with the consensus label
LABEL_BONUS = 0.5


def link_mentions(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Attach (entity_id, link_score) to each mention; unlinked -> NULLs.

    Score = alias prior weight + ``LABEL_BONUS`` if the dictionary label
    agrees with the consensus label. Best candidate per mention = max score,
    ties broken by smallest entity_id (deterministic).
    """
    gaz = F.broadcast(
        gazetteer.select(
            F.col("alias_norm").alias("_block"),
            "entity_id",
            F.col("label").alias("_gaz_label"),
            "weight",
        )
    )

    cand = mentions.withColumn("_block", normalize_surface(F.col("NE"))).join(
        gaz, "_block", "left"
    )
    score = F.col("weight") + F.when(
        F.col("_gaz_label") == F.col("label"), F.lit(LABEL_BONUS)
    ).otherwise(F.lit(0.0))
    # min over (-score, entity_id): max score first, then smallest id;
    # unlinked candidates (null score) get +inf and always lose
    best = F.min(
        F.struct(
            F.coalesce(-score, F.lit(float("inf"))).alias("ns"),
            F.col("entity_id").alias("e"),
        )
    )
    other_cols = [c for c in mentions.columns if c not in LINK_KEY]
    return (
        cand.groupBy(*LINK_KEY)
        .agg(
            *[F.first(c).alias(c) for c in other_cols],
            best.alias("_best"),
        )
        .withColumn(
            "entity_id",
            F.when(F.col("_best")["ns"] != float("inf"), F.col("_best")["e"]),
        )
        .withColumn(
            "link_score",
            F.when(F.col("_best")["ns"] != float("inf"), -F.col("_best")["ns"]),
        )
        .drop("_best")
    )


def excluded_names_filter(df: DataFrame, excluded: list[str]) -> DataFrame:
    """G7: case-insensitive excluded-surface guard
    (reference: ner_config_old.py:201-204, config.yaml excluded_names_list)."""
    lowered = [n.lower() for n in excluded]
    return df.filter(~F.lower(F.col("NE")).isin(lowered))
