"""Resumable stage runner: per-partition checkpoints + lineage manifests.

North_rule semantics: "every stage checkpoints its completed partitions so a
killed run resumes without recomputation". A stage's unit of resume is the
hash bucket of ``doc_uid`` (stable at any parallelism). On (re)run:

1. fingerprint = hash(input fingerprint, stage name, params) — a changed
   input or changed stage invalidates downstream checkpoints automatically
   (the Iceberg analogue is keying manifests by input snapshot id,
   SURVEY.md §4 "resumable per-partition checkpoints");
2. completed buckets per the manifest are *skipped*: the stage transform
   runs only over input rows whose bucket is missing;
3. outputs land with dynamic partition overwrite — idempotent per bucket,
   so a crash mid-write re-does only the unfinished buckets.

Global stages (connected components) cannot be bucket-partial: they are
the one-bucket case of the same commit path.

Concurrent runs: each stage write holds its table's writer lock
(Catalog.try_acquire_writer, a kernel ``flock``) from the fingerprint
claim to the last manifest row, so two Runners racing one stage cannot
interleave a torn write or duplicate manifest rows. The loser blocks
until the winner releases, then finds every bucket manifested and writes
nothing. A killed winner's lock dies with its process, so its successor
resumes from the completed buckets without waiting; only a live, hung
peer is waited for, up to ``writer_wait_sec``.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import BUCKET_COL, Catalog, with_bucket


#: how often a Runner retries a writer lock held by a live peer
WRITER_POLL_SEC = 0.05


def _fp(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode("utf-8")).hexdigest()[:16]


@dataclass
class StageResult:
    table: str
    fingerprint: str
    skipped_buckets: int
    computed_buckets: int
    rows: int
    wall_ms: int


@dataclass
class Runner:
    spark: SparkSession
    catalog: Catalog
    n_buckets: int = 16
    metrics: list[StageResult] = field(default_factory=list)
    # how long to wait for a live peer that holds a stage's writer lock
    writer_wait_sec: float = 600.0

    def _commit(
        self,
        name: str,
        fingerprint: str,
        buckets: list[int],
        build: Callable[[list[int]], DataFrame],
    ) -> StageResult:
        """Write the buckets of ``name`` the manifest lacks, under its
        writer lock: claim the fingerprint (wiping an older one's data),
        prune the dirs of buckets a killed writer left un-manifested (so
        a zero-output recompute cannot inherit their rows), then write
        ``build(missing)``, a frame already tagged with ``_bucket``."""
        t0 = time.time()
        deadline = t0 + self.writer_wait_sec
        while not self.catalog.try_acquire_writer(name):
            if time.time() > deadline:
                raise TimeoutError(
                    f"stage {name}: writer lock still held after "
                    f"{self.writer_wait_sec}s"
                )
            time.sleep(WRITER_POLL_SEC)
        try:
            self.catalog.claim_fingerprint(name, fingerprint)
            done = self.catalog.completed_buckets(name, fingerprint)
            self.catalog.prune_unmanifested(name, done)
            missing = sorted(set(buckets) - done)
            rows = 0
            if missing:
                manifest = self.catalog.write_buckets(
                    build(missing), name, fingerprint, stage=name, buckets=missing
                )
                rows = sum(r["rows"] for r in manifest)
        finally:
            self.catalog.release_writer(name)
        return StageResult(
            table=name,
            fingerprint=fingerprint,
            skipped_buckets=len(done),
            computed_buckets=len(missing),
            rows=rows,
            wall_ms=int((time.time() - t0) * 1000),
        )

    def stage(
        self,
        name: str,
        input_df: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        key: str = "doc_uid",
        input_fingerprint: str = "",
        params: str = "",
    ) -> tuple[DataFrame, str]:
        """Run one bucket-resumable stage; returns (full output DF, fp)."""
        fingerprint = _fp(name, input_fingerprint, params, str(self.n_buckets))

        def build(missing: list[int]) -> DataFrame:
            bucketed_in = with_bucket(input_df, key, self.n_buckets)
            todo = bucketed_in.filter(F.col(BUCKET_COL).isin(missing)).drop(BUCKET_COL)
            return with_bucket(transform(todo), key, self.n_buckets)

        self.metrics.append(
            self._commit(name, fingerprint, list(range(self.n_buckets)), build)
        )
        return self.catalog.read(self.spark, name).drop(BUCKET_COL), fingerprint

    def global_stage(
        self,
        name: str,
        compute: Callable[[], DataFrame],
        input_fingerprint: str = "",
        params: str = "",
    ) -> tuple[DataFrame, str]:
        """All-or-nothing stage (e.g. connected components): the whole
        table is bucket 0, written from one task; an empty result still
        records bucket 0 as completed."""
        fingerprint = _fp(name, input_fingerprint, params)
        result = self._commit(
            name, fingerprint, [0], lambda _: compute().withColumn(BUCKET_COL, F.lit(0))
        )
        # the rows the manifest holds, so a skipped global stage reports
        # them too
        result.rows = sum(
            r["rows"]
            for r in self.catalog.manifest_rows(name)
            if r["fingerprint"] == fingerprint
        )
        self.metrics.append(result)
        return self.catalog.read(self.spark, name).drop(BUCKET_COL), fingerprint

    def metrics_json(self) -> list[dict]:
        return [
            {
                "stage": m.table,
                "fingerprint": m.fingerprint,
                "skipped_buckets": m.skipped_buckets,
                "computed_buckets": m.computed_buckets,
                "rows": m.rows,
                "wall_ms": m.wall_ms,
            }
            for m in self.metrics
        ]
