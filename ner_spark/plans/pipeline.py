"""End-to-end stage composition (SURVEY.md §7 target architecture).

Pure DataFrame composition — no I/O here. Checkpointed, resumable execution
of the same stages lives in ner_spark.plans.runner.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractors.combined import combined_mentions
from ..operators import consensus as C
from ..operators import relations as R
from ..operators.clean import clean
from ..operators.corrections import apply_corrections


@dataclass
class KGPipeline:
    """Configured stage chain; each method returns a lazy DataFrame."""

    gazetteer: DataFrame
    patterns: DataFrame
    trusted_combos: list[list[str]]
    corrections: DataFrame | None = None
    _cached: list = field(default_factory=list, repr=False)

    def consensus(self, clean_docs: DataFrame) -> DataFrame:
        # the module-global lookup is deliberate: tracing rebinds
        # ``combined_mentions`` on this module to wrap it in a span
        ranked = combined_mentions(clean_docs, self.gazetteer, self.patterns)
        with_ids = C.vote(ranked, self.trusted_combos).join(
            clean_docs.select("doc_uid", "files_id"), "doc_uid", "left"
        )
        if self.corrections is not None:
            with_ids = apply_corrections(with_ids, self.corrections)
        return with_ids

    def run(self, docs: DataFrame) -> dict[str, DataFrame]:
        # clean + mentions are each consumed by 2+ branches (instance and
        # relation triples); caching mirrors the checkpointed execution in
        # plans.runner, where stage outputs are materialized tables
        cd = clean(docs).cache()
        mentions = self.consensus(cd).cache()
        # populate both caches eagerly before handing out the triples plan:
        # triples fans out into three consumers of `mentions` (instance +
        # both self-join branches), and when one action forces them against
        # a cold cache the scheduler runs the whole extraction subtree once
        # per branch concurrently — none of them hits the still-materializing
        # cache (measured 3x the chain cost at 200k docs). One count() here
        # is one pass over the cached plan (cd materializes beneath it) and
        # turns every downstream consumer into a cache read.
        mentions.count()
        self._cached.extend([cd, mentions])
        return {
            "clean": cd,
            "mentions": mentions,
            "triples": R.extract_triples(mentions, cd),
        }

    def unpersist(self) -> None:
        """Release the stage caches ``run`` created. Call after the outputs
        are materialized — in a long-running application the caches would
        otherwise pin executor storage for the life of the session."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def summarize(df: DataFrame, cols: list[str]) -> DataFrame:
    """D6 self-diagnostics: frequency reports per column value."""
    outs = [
        df.groupBy(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
        .count()
        for c in cols
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
