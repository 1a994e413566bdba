"""Structured Streaming ingest for the KG pipeline.

The reference is batch-only (SURVEY.md "Streaming-only operators: none"),
and the north_rule target is batch-with-checkpoints; this module exists for
the *arrival* side of a production deployment: documents land continuously,
mention extraction is stateless per document, and the consensus/linking
stages run in the micro-batch via ``foreachBatch`` against the same
operators the batch pipeline uses — one implementation, two drivers.

Notes on semantics at scale:
- S1 global dedup is not streamable (unbounded state); streaming runs
  extraction per unique text *within* the micro-batch and leaves global
  dedup to the periodic batch compaction — the same split Lakehouse
  pipelines use;
- windowed mention counts use an event-time watermark so late documents
  update the right window and state is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from .. import schemas
from ..extractors.combined import combined_mentions
from ..operators import consensus as C
from ..operators.clean import doc_text

# NB: StructType.add mutates the receiver — build a fresh StructType so the
# shared batch schema is not widened as an import side effect
STREAM_DOCS = T.StructType(
    [*schemas.DOCS.fields, T.StructField("event_ts", T.TimestampType(), True)]
)


def stream_docs(spark: SparkSession, input_dir: str, max_files: int = 10) -> DataFrame:
    """File-source stream of interleaved docs (new parquet files appear)."""
    return (
        spark.readStream.schema(STREAM_DOCS)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def stream_mentions(docs: DataFrame, gazetteer: DataFrame, patterns: DataFrame) -> DataFrame:
    """Stateless per-doc extraction on the stream (same fused extractor as
    batch; no shuffle, no state).

    ``event_ts`` rides through the extractor's output projection — the
    round-1 formulation re-joined the mentions stream with the docs stream
    to reattach it, a watermark-less stream-stream join whose state grows
    unboundedly in a continuous deployment."""
    normalized = docs.select(
        F.col("doc_id").alias("doc_uid"),
        doc_text(F.col("spans")).alias("text"),
        "event_ts",
    ).filter(F.col("text").isNotNull() & (F.col("text") != ""))
    return combined_mentions(
        normalized, gazetteer, patterns, passthrough_cols=("event_ts",)
    )


def windowed_label_counts(
    mentions: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Event-time windowed mention counts per label, late data bounded by
    the watermark."""
    return (
        mentions.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("win"), "label")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "label",
            "n_mentions",
        )
    )


def consensus_sink(
    mentions: DataFrame,
    combos: list[list[str]],
    out_dir: str,
    checkpoint_dir: str,
):
    """foreachBatch: run the batch consensus operators on each micro-batch
    and write to a batch_id-partitioned parquet table.

    Exactly-once under replay: foreachBatch is at-least-once (a crash
    between the parquet write and the checkpoint commit re-delivers the
    batch), so a blind append would duplicate the batch's rows. Writing
    each micro-batch into its own ``batch_id=<n>`` partition with DYNAMIC
    partition overwrite makes the replay idempotent — the retried batch
    replaces exactly its own partition and touches nothing else."""
    return (
        mentions.writeStream.foreachBatch(
            consensus_batch_writer(combos, out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def consensus_batch_writer(combos: list[list[str]], out_dir: str):
    """The foreachBatch body, exposed for direct (replay) testing."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            C.vote(batch_df.drop("event_ts"), combos)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return process


def dedup_stream(
    docs: DataFrame, watermark: str = "10 minutes", id_col: str = "doc_id"
) -> DataFrame:
    """At-least-once -> effectively-once: drop redelivered documents.

    File/queue sources redeliver on retry; this keeps the FIRST arrival of
    each ``id_col`` and discards replays that arrive within the watermark.
    ``dropDuplicatesWithinWatermark`` (vs plain ``dropDuplicates``) bounds
    the dedup state: keys older than the event-time watermark are evicted,
    so state is O(arrival rate x watermark window), not O(stream lifetime) —
    the only formulation that survives a continuous 10^12-doc deployment.
    Exact GLOBAL dedup across the whole corpus stays with the periodic
    batch compaction (module docstring), as in Lakehouse pipelines.
    """
    return docs.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )
