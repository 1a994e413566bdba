"""Partitioned-table catalog with per-partition lineage manifests.

Iceberg is the production target (north_rule: partitioned Iceberg tables
with per-partition lineage manifests); the iceberg-spark runtime jar is not
available offline in this sandbox, so this module implements the same
contract on a plain parquet directory (SURVEY.md §7 "Iceberg in sandbox"
fallback): hash-bucketed layout, idempotent per-partition overwrite, and a
JSONL manifest recording (stage, bucket, fingerprint, rows, wall_ms) per
completed partition. Swapping in Iceberg means replacing ``write_buckets``
with ``overwritePartitions`` and the manifest with a snapshot query — the
runner API does not change.

As in an Iceberg commit, the metadata comes from the write: manifest row
counts from the written files' parquet footers, and the schema stored in
``_schema.json`` (Spark skips ``_`` files) so ``read`` infers nothing and
an empty table stays readable. Older tables without it are inferred.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "_bucket"
SCHEMA_FILE = "_schema.json"


def with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Deterministic hash bucket — same key always lands in the same bucket
    at any parallelism, which is what makes partial re-runs sound.

    md5-based (operators.dedup.md5_60) rather than xxhash64 so the bucket
    assignment — and therefore every per-bucket manifest row count — is
    replayable in the driver's DuckDB oracle
    (``('0x' || substr(md5(key), 1, 15))::BIGINT % n``)."""
    from ..operators.dedup import md5_60

    return df.withColumn(
        BUCKET_COL,
        F.pmod(md5_60(F.col(key).cast("string")), F.lit(n_buckets)).cast("int"),
    )


@dataclass
class Catalog:
    root: str
    # owner tokens for writer locks THIS catalog instance acquired
    # (lock path -> token); release/heartbeat verify against the on-disk
    # token so a broken-then-reissued lease is never removed by its old
    # owner (round-5 ADVICE: ownership-less release defeats the lease)
    _owned: dict = field(default_factory=dict, repr=False, compare=False)

    def table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def manifest_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.manifest.jsonl")

    def schema_path(self, table: str) -> str:
        return os.path.join(self.table_dir(table), SCHEMA_FILE)

    def fingerprint_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.fingerprint")

    def claim_fingerprint(self, table: str, fingerprint: str) -> bool:
        """Make ``table`` safe to resume under ``fingerprint``.

        Dynamic partition overwrite only replaces buckets *present in the
        new write*: after a fingerprint change (input/params/n_buckets), a
        bucket that had rows under the old fingerprint but produces zero
        rows — or is out of range — under the new one would silently leak
        stale parquet into every later read. So the first writer under a
        new fingerprint wipes the table dir + manifest and records a
        marker file BEFORE writing data; the marker (not the manifest) is
        the source of truth, which also covers a crash between the data
        write and the manifest append. Returns True if the table was reset.
        """
        marker = self.fingerprint_path(table)
        prev = None
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as f:
                prev = f.read().strip()
        if prev == fingerprint:
            return False
        self.reset_table(table)
        os.makedirs(self.root, exist_ok=True)
        with open(marker, "w", encoding="utf-8") as f:
            f.write(fingerprint)
        return True

    # -- concurrent-writer fencing ----------------------------------------
    # Two Runners racing the same (table, fingerprint) must not interleave:
    # dynamic partition overwrite is only idempotent for ONE writer at a
    # time (two concurrent Spark writes to one directory fight over the
    # commit protocol's _temporary dir), and both would append duplicate
    # manifest rows. The fence is an O_CREAT|O_EXCL marker file per
    # (table, fingerprint) with a lease: a lock whose mtime is older than
    # ``lease_sec`` belongs to a dead writer and is broken. This is the
    # parquet-shim analogue of Iceberg's optimistic-concurrency commit
    # (the production swap point, like the rest of this module).

    def writer_lock_path(self, table: str, fingerprint: str = "") -> str:
        """One lock per TABLE (the fingerprint arg is kept for API
        stability but is not part of the key): ``claim_fingerprint`` wipes
        the whole table dir + manifest on a fingerprint change, so two
        runners racing the same stage with DIFFERENT fingerprints still
        contend on the same directory — a per-(table, fingerprint) lock
        would let them interleave reset_table with each other's data
        writes (round-5 ADVICE). Table-granular locking serializes them;
        last writer wins the fingerprint, which is the claim semantics."""
        return os.path.join(self.root, f"{table}.writer.lock")

    def try_acquire_writer(
        self, table: str, fingerprint: str = "", lease_sec: float = 600.0
    ) -> bool:
        """Atomically claim write ownership of ``table``.

        Returns True iff this process is now the single writer; the caller
        must ``release_writer`` when its buckets (data AND manifest rows)
        are fully recorded. False means a live writer holds the lease —
        poll ``completed_buckets`` instead of writing.

        The lock file carries a unique owner token. Breaking a stale lease
        goes through an atomic ``os.rename`` to a unique tombstone (one
        renamer wins; losers fall back to the O_CREAT|O_EXCL race) with a
        token re-verify after the rename, so racing survivors of a dead
        writer cannot both remove "the" stale lock (the round-5 ADVICE
        double-admission race). Exact guarantee: plain-filesystem lock
        files cannot make ADMISSION perfectly atomic — in a sub-ms window
        a breaker can yank a just-reissued live lock and a third racer can
        create before the restore, transiently double-admitting — but
        OWNERSHIP (the on-disk token, what ``owns_writer`` checks and the
        Runner verifies synchronously before every write) is always
        singular, so at most one admitted writer ever writes; the other
        aborts on its pre-write verify. Production on shared storage swaps
        this shim for the table format's commit protocol (Iceberg),
        like the rest of this module.
        """
        os.makedirs(self.root, exist_ok=True)
        path = self.writer_lock_path(table)
        # bounded retry: each pass either creates, sees a live lock
        # (return False), or breaks/observes a broken stale lock and
        # retries the create — a successful break ALWAYS earns another
        # create attempt (returning False right after breaking would
        # orphan the lock: every racer could break-and-bail, admitting
        # nobody)
        for _ in range(8):
            token = uuid.uuid4().hex
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{token} {os.getpid()} {time.time()}".encode("utf-8"))
                os.close(fd)
                self._owned[path] = token
                return True
            except FileExistsError:
                try:
                    # observe (token, age) of the SAME lock instance; the
                    # re-stat immediately before the break decision honors
                    # a heartbeat between our first sight of the lock and
                    # now
                    with open(path, encoding="utf-8") as f:
                        stale_token = f.read().split(" ", 1)[0]
                    age = time.time() - os.path.getmtime(path)
                except OSError:
                    continue  # released between the two checks — retry
                if age <= lease_sec:
                    return False
                tomb = f"{path}.tomb.{token}"
                try:
                    os.rename(path, tomb)  # atomic: one breaker wins
                except FileNotFoundError:
                    continue  # another breaker / a release got it — retry
                # verify we yanked the lock we MEASURED as stale: a racing
                # breaker may have broken it and recreated a fresh lock
                # between our stat and our rename — renaming that live
                # lock away would admit a second writer
                try:
                    with open(tomb, encoding="utf-8") as f:
                        yanked_token = f.read().split(" ", 1)[0]
                except OSError:
                    yanked_token = None
                if yanked_token == stale_token:
                    os.remove(tomb)  # correct break — retry the create
                    continue
                # yanked a LIVE lock: restore it atomically (link fails if
                # a third racer already created a new lock at path; that
                # survivor keeps it, and the yanked owner's token-verified
                # heartbeat flags the loss so it aborts before writing)
                try:
                    os.link(tomb, path)
                except (FileExistsError, OSError):
                    pass
                os.remove(tomb)
                return False
        return False

    def owns_writer(self, table: str, fingerprint: str = "") -> bool:
        """True iff the lock on disk still carries THIS catalog's token."""
        path = self.writer_lock_path(table)
        token = self._owned.get(path)
        if token is None:
            return False
        try:
            with open(path, encoding="utf-8") as f:
                return f.read().split(" ", 1)[0] == token
        except OSError:
            return False

    def heartbeat_writer(self, table: str, fingerprint: str = "") -> bool:
        """Refresh the lease iff we still own it. Returns False — and
        touches nothing — when the lock was broken and reissued to another
        writer (the caller must treat that as a lost lease, not keep
        beating someone else's lock)."""
        if not self.owns_writer(table):
            return False
        try:
            os.utime(self.writer_lock_path(table), None)
            return True
        except OSError:
            return False

    def release_writer(self, table: str, fingerprint: str = "") -> None:
        """Remove the lock only if this catalog still owns it (token
        verify immediately before the unlink). If the lease was broken and
        reissued while we ran, the new owner's lock is left untouched —
        the old owner's finally-block must not admit a third writer by
        deleting a live lock it no longer holds."""
        path = self.writer_lock_path(table)
        token = self._owned.pop(path, None)
        if token is None:
            return
        try:
            with open(path, encoding="utf-8") as f:
                if f.read().split(" ", 1)[0] != token:
                    return  # lease was broken + reissued: not ours anymore
            os.remove(path)
        except OSError:
            pass

    def prune_unmanifested(self, table: str, keep: set[int]) -> list[int]:
        """Remove bucket dirs that are NOT in the completed-manifest set.

        A writer killed mid-``write_buckets`` leaves whole task files in
        some bucket dirs with no manifest rows (the manifest is appended
        only after the write). On resume, dynamic partition overwrite
        replaces exactly the buckets PRESENT in the new write — so a
        bucket whose recompute legitimately emits zero rows would keep the
        dead writer's partial file, and its footer row count would be
        recorded as the bucket's content. Pruning un-manifested bucket
        dirs (and commit-protocol ``_temporary`` leftovers) before the
        recompute closes that torn-write window; manifested buckets and
        the stored schema are never touched. Returns the pruned ids.
        """
        tdir = self.table_dir(table)
        if not os.path.isdir(tdir):
            return []
        pruned = []
        for d in os.listdir(tdir):
            full = os.path.join(tdir, d)
            m = re.fullmatch(rf"{BUCKET_COL}=(\d+)", d)
            if m and os.path.isdir(full):
                if int(m.group(1)) not in keep:
                    shutil.rmtree(full, ignore_errors=True)
                    pruned.append(int(m.group(1)))
            elif d.startswith("_temporary"):
                shutil.rmtree(full, ignore_errors=True)
        return sorted(pruned)

    def reset_table(self, table: str) -> None:
        if os.path.isdir(self.table_dir(table)):
            shutil.rmtree(self.table_dir(table))
        self.clear_manifest(table)
        if os.path.exists(self.fingerprint_path(table)):
            os.remove(self.fingerprint_path(table))

    # -- manifest ----------------------------------------------------------
    def manifest_rows(self, table: str) -> list[dict]:
        path = self.manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]

    def completed_buckets(self, table: str, fingerprint: str) -> set[int]:
        return {
            r["bucket"]
            for r in self.manifest_rows(table)
            if r["fingerprint"] == fingerprint
        }

    def record(self, table: str, rows: list[dict]) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(self.manifest_path(table), "a", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def clear_manifest(self, table: str) -> None:
        path = self.manifest_path(table)
        if os.path.exists(path):
            os.remove(path)

    # -- data --------------------------------------------------------------
    def write_buckets(
        self,
        df: DataFrame,
        table: str,
        fingerprint: str,
        stage: str,
        buckets: list[int],
    ) -> list[dict]:
        """Write a (already bucketed) DataFrame partitioned by bucket, then
        append one manifest row per bucket in ``buckets`` (an empty bucket
        is completed with 0 rows). Idempotent per bucket: dynamic partition
        overwrite replaces exactly the buckets present in ``df`` and leaves
        the rest of the table untouched. The write is the only Spark job:
        counts come from the footers in the bucket dirs it replaced (the
        Runner prunes un-manifested dirs first), and ``df``'s schema is
        stored for ``read``."""
        t0 = time.time()
        with_conf(df.sparkSession)
        tdir = self.table_dir(table)
        # cluster rows by bucket before writing: each bucket dir receives
        # exactly one file, independent of task parallelism — otherwise
        # every one of N tasks opens a writer in every one of B bucket dirs
        # (N x B small files; at 16 cores x 128 buckets that file storm
        # dominates the stage and *anti-scales* with cores)
        df.repartition(len(buckets), F.col(BUCKET_COL)).write.mode(
            "overwrite"
        ).partitionBy(BUCKET_COL).parquet(tdir)
        # write-then-rename: a reader never sees a torn schema file
        tmp = f"{self.schema_path(table)}.{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(df.schema.json())
        os.replace(tmp, self.schema_path(table))
        wall_ms = int((time.time() - t0) * 1000)
        counts = {
            b: sum(
                pq.read_metadata(p).num_rows
                for p in glob.glob(os.path.join(tdir, f"{BUCKET_COL}={b}", "*.parquet"))
            )
            for b in buckets
        }
        rows = [
            {
                "stage": stage,
                "table": table,
                "bucket": b,
                "fingerprint": fingerprint,
                "rows": counts[b],
                "wall_ms": wall_ms,
                "ts": time.time(),
            }
            # buckets with rows first, then the empty ones, each by id
            for b in sorted(buckets, key=lambda b: (counts[b] == 0, b))
        ]
        self.record(table, rows)
        return rows

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        path = self.schema_path(table)
        if not os.path.exists(path):
            return spark.read.parquet(self.table_dir(table))
        with open(path, encoding="utf-8") as f:
            schema = StructType.fromJson(json.load(f))
        return spark.read.schema(schema).parquet(self.table_dir(table))

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.table_dir(table))

    # -- maintenance ---------------------------------------------------------
    def compact_table(
        self, spark: SparkSession, table: str, files_per_bucket: int = 1
    ) -> dict:
        """Rewrite the table so each bucket holds ``files_per_bucket``
        parquet files (Iceberg ``rewrite_data_files`` analogue).

        Incremental / streaming writers accumulate small files; at cluster
        scale the scan cost of a table is dominated by file-open overhead
        long before bytes matter, so compaction is routine table
        maintenance. The rewrite goes to a sibling staging dir first and
        the swap happens only after the rewritten table is fully on disk —
        a crash mid-compact leaves the original table intact. Returns
        {files_before, files_after, rows} and appends a ``compact`` row per
        bucket to the manifest.
        """
        src = self.table_dir(table)
        staging = src + ".compact"
        before = glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
        df = self.read(spark, table)
        n_rows = df.count()
        buckets = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        # cluster by bucket so each partition dir receives exactly
        # files_per_bucket files regardless of task parallelism
        (
            df.repartition(
                max(len(buckets), 1) * files_per_bucket, F.col(BUCKET_COL)
            )
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(staging)
        )
        # verify row count parity before the swap, then swap atomically-ish
        n_staged = spark.read.parquet(staging).count()
        if n_staged != n_rows:
            shutil.rmtree(staging)
            raise RuntimeError(
                f"compact {table}: staged {n_staged} rows != source {n_rows}"
            )
        if os.path.exists(self.schema_path(table)):
            shutil.copy(self.schema_path(table), os.path.join(staging, SCHEMA_FILE))
        shutil.rmtree(src)
        os.replace(staging, src)
        after = glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
        self.record(
            table,
            [
                {
                    "stage": "compact",
                    "table": table,
                    "bucket": int(b),
                    "fingerprint": "compact",
                    "rows": int(n_rows),
                    "wall_ms": 0,
                    "ts": time.time(),
                }
                for b in sorted(buckets)
            ],
        )
        return {
            "files_before": len(before),
            "files_after": len(after),
            "rows": int(n_rows),
        }


def write_range_clustered(
    df: DataFrame, path: str, key: str, n_files: int
) -> None:
    """Write ``df`` range-clustered on ``key``: repartitionByRange splits the
    keyspace into ``n_files`` contiguous ranges (sampled range boundaries)
    and the within-partition sort makes every row group's min/max stats
    tight. Readers filtering on ``key`` then skip whole files from footer
    statistics alone — the zone-map/data-skipping layout Iceberg's
    ``sort_order`` provides. Verified in tests by reading the parquet
    footers back: file ranges must be pairwise disjoint and a point/range
    predicate must select a strict subset of files."""
    (
        df.repartitionByRange(n_files, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def with_conf(spark: SparkSession) -> None:
    # dynamic mode: overwrite only the partitions present in the write
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def z_value(a: Column, b: Column, bits: int = 8) -> Column:
    """Morton/Z-order interleave of two non-negative ``bits``-wide ints:
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1. Pure
    integer shift/or arithmetic — JVM-side, exact, and replayable in ANSI
    SQL — so the curve order is identical on any engine."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zorder_clustered(
    df: DataFrame, path: str, key_a: str, key_b: str, bits: int = 8, n_files: int = 16
) -> None:
    """Write ``df`` Z-order-clustered on TWO keys (Iceberg's ``rewrite
    (strategy => 'sort', sort_order => 'zorder(a, b)')``): rows map to the
    Morton curve over the (a, b) grid and split into ``n_files``
    FIXED-WIDTH curve segments (``z div ceil(4^bits / n_files)`` — not
    sampled range boundaries, so the file assignment is deterministic and
    SQL-replayable). Each file then covers a compact curve segment =
    a small rectangle-ish region of BOTH dimensions, so footer min/max
    stats skip files for predicates on EITHER key — what 1-D range
    clustering cannot do for the second dimension."""
    seg = (4**bits + n_files - 1) // n_files
    zf = (z_value(F.col(key_a), F.col(key_b), bits) / seg).cast("long")
    (
        df.withColumn("_zfile", zf)
        .repartition(n_files, F.col("_zfile"))
        .sortWithinPartitions("_zfile", key_a, key_b)
        .write.mode("overwrite")
        .partitionBy("_zfile")
        .parquet(path)
    )
