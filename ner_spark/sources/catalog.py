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

One writer per table at a time: an exclusive ``flock`` on
``<table>.writer.lock``. The kernel drops it when its holder dies, so the
successor of a killed run takes over at once, without waiting. That
holds on a local or POSIX filesystem; on shared object storage Iceberg's
optimistic commit replaces the lock, as it replaces the rest of the shim.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
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
    # writer locks THIS catalog holds: lock path -> locked file descriptor
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

    # -- concurrent-writer fence -------------------------------------------
    # Two Runners writing one stage table must not interleave: dynamic
    # partition overwrite is only idempotent for ONE writer at a time (two
    # concurrent Spark writes to one directory fight over the commit
    # protocol's _temporary dir), and both would append duplicate manifest
    # rows (the module docstring has the lock's scope).

    def writer_lock_path(self, table: str) -> str:
        """One lock per TABLE, not per fingerprint: ``claim_fingerprint``
        wipes the whole table dir + manifest on a fingerprint change, so
        runners racing one stage with different fingerprints must
        serialize too; last writer wins the fingerprint."""
        return os.path.join(self.root, f"{table}.writer.lock")

    def try_acquire_writer(self, table: str) -> bool:
        """Take the writer lock of ``table`` without blocking.

        True means this catalog is now the single writer and must
        ``release_writer`` once its data AND manifest rows are recorded;
        False means a live writer holds it. A lock file left by a killed
        writer is unlocked, so it is taken over at once. The inode check
        skips a file its previous holder unlinked on release (see
        ``release_writer``): a lock on it would fence nothing.
        """
        os.makedirs(self.root, exist_ok=True)
        path = self.writer_lock_path(table)
        while True:
            fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                os.close(fd)
                return False
            try:
                if os.fstat(fd).st_ino == os.stat(path).st_ino:
                    self._owned[path] = fd
                    return True
            except FileNotFoundError:
                pass
            os.close(fd)

    def owns_writer(self, table: str) -> bool:
        return self.writer_lock_path(table) in self._owned

    # kept only as a name: perfbench's tracer wraps the four fence methods
    # by name, and a kernel lock needs no heartbeat
    heartbeat_writer = owns_writer

    def release_writer(self, table: str) -> None:
        """Unlink the lock file while still holding the lock, then unlock.
        A waiter that opened the old file finds it unlinked and retries on
        a fresh one, so a clean run leaves no lock file. A no-op for a
        catalog that does not hold the lock."""
        path = self.writer_lock_path(table)
        fd = self._owned.pop(path, None)
        if fd is None:
            return
        try:
            os.unlink(path)
        finally:
            os.close(fd)

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
    def compact_table(self, spark: SparkSession, table: str) -> dict:
        """Rewrite the table so each bucket holds one parquet file (Iceberg
        ``rewrite_data_files`` analogue).

        Incremental writers accumulate small files; at cluster
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
        # cluster by bucket so each partition dir receives exactly one file
        # regardless of task parallelism
        (
            df.repartition(max(len(buckets), 1), F.col(BUCKET_COL))
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
