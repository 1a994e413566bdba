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

Global stages (connected components) cannot be bucket-partial; they
checkpoint all-or-nothing under the same manifest mechanism.

Concurrent runs: a lease-based writer fence (Catalog.try_acquire_writer)
admits exactly ONE writer per stage TABLE — table-granular, not
per-fingerprint, so two runners racing the same stage with different
fingerprints (changed params/input) also serialize instead of
interleaving claim_fingerprint's table reset with each other's data
writes. A racing Runner waits on the winner's manifest and then reads, so
two schedulers accidentally launching the same job cannot interleave a
torn write or duplicate manifest rows. A winner that dies mid-run is
taken over after its lease expires (atomic tombstone-rename break — one
breaker wins even among many survivors), resuming from its completed
buckets; locks carry owner tokens, the heartbeat stops the moment the
token no longer matches, and a writer whose lease was broken+reissued
aborts fatally before touching data or manifest.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import BUCKET_COL, Catalog, with_bucket


def _fp(*parts: str) -> str:
    return hashlib.sha256("\x1f".join(parts).encode("utf-8")).hexdigest()[:16]


class LeaseLost(RuntimeError):
    """This writer's lease was broken and reissued mid-run; its attempt is
    discarded before any data/manifest write and the Runner re-enters the
    acquire-or-wait loop (the new owner is doing the work)."""


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
    # concurrent-writer fence: how long a peer Runner's lease may go
    # untouched before it counts as dead, how long to wait for a live peer
    # to finish, and how often to re-check its manifest while waiting
    writer_lease_sec: float = 600.0
    writer_wait_sec: float = 600.0
    writer_poll_sec: float = 0.1

    def _start_heartbeat(self, name: str, fingerprint: str):
        """Refresh the writer lease every lease/3 while the stage computes.
        Without this, any stage whose wall time exceeds ``writer_lease_sec``
        (a 10^12-doc consensus shuffle easily does) would look dead to a
        waiting peer, which would break the lease and start a second
        concurrent write — exactly the torn-write race the fence exists to
        prevent. The beat is ownership-verified (Catalog.heartbeat_writer):
        if the lease was broken and reissued to another writer, the thread
        stops beating (never touches the new owner's lock) and flags the
        loss. Returns (stop_event, lost_event); the caller MUST abort its
        write when ``lost_event`` is set — continuing would interleave with
        the new owner."""
        import threading

        stop = threading.Event()
        lost = threading.Event()
        interval = max(self.writer_lease_sec / 3.0, 0.05)

        def beat() -> None:
            while not stop.wait(interval):
                if not self.catalog.heartbeat_writer(name, fingerprint):
                    lost.set()
                    break  # lock removed or reissued — stop, flag loss

        threading.Thread(target=beat, daemon=True).start()
        return stop, lost

    def _check_lease(self, name: str, lost) -> None:
        """Abort the write if this writer no longer owns the lease. Two
        layers: the heartbeat's ``lost`` flag (async, lease/3 cadence) and
        a SYNCHRONOUS on-disk token verify immediately before each write —
        lock-file protocols on plain filesystems cannot make *admission*
        perfectly atomic (a breaker can transiently yank a live lock in a
        sub-ms window; see Catalog.try_acquire_writer), so single-WRITER
        safety is enforced here: whoever's token is on disk at write time
        writes; everyone else raises LeaseLost and falls back to waiting
        on the owner (stage/global_stage catch it and re-enter the
        acquire-or-wait loop)."""
        if (lost is not None and lost.is_set()) or not self.catalog.owns_writer(name):
            raise LeaseLost(
                f"stage {name}: writer lease lost mid-run (lock broken and "
                f"reissued to another writer) — discarding this attempt"
            )

    def _acquire_or_wait(
        self, name: str, fingerprint: str, is_done: Callable[[], bool]
    ) -> bool:
        """Single-writer admission for one stage run.

        Returns True when this Runner holds the write lease (caller must
        compute + release), False when a racing peer finished the work
        while we waited (caller just reads). Two Runners launched against
        the same catalog therefore produce exactly ONE winner: the loser
        blocks on the winner's manifest instead of double-writing data and
        manifest rows. A winner that dies mid-run drops off via the lease
        timeout and the survivor takes over the remaining buckets.
        """
        deadline = time.time() + self.writer_wait_sec
        while True:
            if self.catalog.try_acquire_writer(
                name, fingerprint, lease_sec=self.writer_lease_sec
            ):
                return True
            if is_done():
                return False
            if time.time() > deadline:
                raise TimeoutError(
                    f"stage {name}: writer lease for {fingerprint} still held "
                    f"after {self.writer_wait_sec}s and work incomplete"
                )
            time.sleep(self.writer_poll_sec)

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
        t0 = time.time()
        fingerprint = _fp(name, input_fingerprint, params, str(self.n_buckets))
        all_buckets = set(range(self.n_buckets))
        rows_written = 0
        done: set[int] = set()
        missing: list[int] = []
        # lease-lost retry loop: an admitted writer whose lease is broken
        # and reissued discards its attempt (before any write) and
        # re-enters acquire-or-wait — the new owner is doing the work
        for _attempt in range(3):
            acquired = self._acquire_or_wait(
                name,
                fingerprint,
                lambda: not (all_buckets - self.catalog.completed_buckets(name, fingerprint)),
            )
            heartbeat, lost = (
                self._start_heartbeat(name, fingerprint) if acquired else (None, None)
            )
            try:
                # wipe stale data from any previous fingerprint (claim runs
                # under the writer fence so a racing peer can't interleave
                # the reset with our data write; the lock is TABLE-granular,
                # so different-fingerprint racers serialize here too)
                if acquired:
                    self.catalog.claim_fingerprint(name, fingerprint)
                done = self.catalog.completed_buckets(name, fingerprint)
                missing = sorted(all_buckets - done) if acquired else []
                if acquired:
                    # torn-write cleanup: a predecessor killed mid-write
                    # left data in buckets it never manifested; drop those
                    # dirs so a zero-output recompute cannot inherit stale
                    # rows
                    self.catalog.prune_unmanifested(name, done)
                if missing:
                    bucketed_in = with_bucket(input_df, key, self.n_buckets)
                    todo = bucketed_in.filter(F.col(BUCKET_COL).isin(missing)).drop(BUCKET_COL)
                    out = transform(todo)
                    out_bucketed = with_bucket(out, key, self.n_buckets)
                    self._check_lease(name, lost)
                    manifest = self.catalog.write_buckets(
                        out_bucketed, name, fingerprint, stage=name, buckets=missing
                    )
                    rows_written = sum(r["rows"] for r in manifest)
                break
            except LeaseLost:
                done, missing, rows_written = set(), [], 0
                continue
            finally:
                if heartbeat is not None:
                    heartbeat.set()
                if acquired:
                    self.catalog.release_writer(name, fingerprint)
        else:
            raise TimeoutError(
                f"stage {name}: lease lost on every attempt — giving up"
            )
        result = StageResult(
            table=name,
            fingerprint=fingerprint,
            skipped_buckets=len(done),
            computed_buckets=len(missing),
            rows=rows_written,
            wall_ms=int((time.time() - t0) * 1000),
        )
        self.metrics.append(result)
        out_df = self.catalog.read(self.spark, name).drop(BUCKET_COL)
        return out_df, fingerprint

    def global_stage(
        self,
        name: str,
        compute: Callable[[], DataFrame],
        input_fingerprint: str = "",
        params: str = "",
    ) -> tuple[DataFrame, str]:
        """All-or-nothing stage (e.g. connected components)."""
        t0 = time.time()
        fingerprint = _fp(name, input_fingerprint, params)
        done: set[int] = set()
        for _attempt in range(3):
            acquired = self._acquire_or_wait(
                name,
                fingerprint,
                lambda: bool(self.catalog.completed_buckets(name, fingerprint)),
            )
            heartbeat, lost = (
                self._start_heartbeat(name, fingerprint) if acquired else (None, None)
            )
            try:
                if acquired:
                    self.catalog.claim_fingerprint(name, fingerprint)
                done = self.catalog.completed_buckets(name, fingerprint)
                if not done and acquired:
                    # all-or-nothing stage: nothing is manifested, so any
                    # leftover data is a predecessor's torn write — drop it
                    self.catalog.prune_unmanifested(name, set())
                    out = compute()
                    self._check_lease(name, lost)
                    # the whole table is bucket 0, written from one task;
                    # an empty result still records bucket 0 as completed
                    self.catalog.write_buckets(
                        out.withColumn(BUCKET_COL, F.lit(0)),
                        name,
                        fingerprint,
                        stage=name,
                        buckets=[0],
                    )
                break
            except LeaseLost:
                done = set()
                continue
            finally:
                if heartbeat is not None:
                    heartbeat.set()
                if acquired:
                    self.catalog.release_writer(name, fingerprint)
        else:
            raise TimeoutError(
                f"stage {name}: lease lost on every attempt — giving up"
            )
        result_df = self.catalog.read(self.spark, name).drop(BUCKET_COL)
        rows_written = sum(
            r["rows"]
            for r in self.catalog.manifest_rows(name)
            if r["fingerprint"] == fingerprint
        )
        self.metrics.append(
            StageResult(
                table=name,
                fingerprint=fingerprint,
                skipped_buckets=1 if done else 0,
                computed_buckets=0 if done else 1,
                rows=rows_written,
                wall_ms=int((time.time() - t0) * 1000),
            )
        )
        return result_df, fingerprint

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
