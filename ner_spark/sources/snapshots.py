"""Snapshot-versioned table layout: Iceberg's commit model on plain parquet.

The production target is Iceberg (north_rule); its runtime jar is not
available offline, so this implements the part of the spec the engine
actually depends on — an append-only snapshot log over immutable data
files — with the same operations: atomic-ish commits, time travel
(``read(snapshot_id=...)`` / ``read(as_of=...)``), rollback, and snapshot
expiry (``expire`` = Iceberg's ``expire_snapshots`` + orphan-file cleanup).

Layout::

    {root}/{table}/_commit=c000001/_bucket=0/part-*.parquet  # immutable commits
    {root}/{table}/_commit=c000002/_bucket=3/...
    {root}/{table}.snapshots.jsonl                           # the snapshot log

Commit dirs are spelled as a ``_commit=`` partition layer so a multi-commit
read under one ``basePath`` passes Spark's partition discovery (and the
commit id arrives as a free partition column, dropped on read).

Each commit writes ONLY its own fresh ``c{id}`` directory — existing files
are never touched — and then appends one log line holding the full
bucket -> commit-dir mapping (Iceberg's manifest list, flattened: bucket
partitions make the mapping small enough to inline). The log append is the
commit point: a crash before it leaves an orphan data dir that a later
``expire`` removes, never a corrupt table. Readers resolve a snapshot to
its mapping and load exactly those paths with ``basePath`` so ``_bucket``
survives as a partition column — no directory listing of the whole table,
so read cost is O(buckets referenced), not O(history).

Scale notes: commits are O(new data) writes plus one O(buckets) log line;
time travel is free at read time (path selection); expiry is pure
filesystem metadata work. Nothing here ever rewrites history — exactly the
property that makes Iceberg commits cheap at 100 TB.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import BUCKET_COL


class SnapshotCatalog:
    def __init__(self, root: str) -> None:
        self.root = root

    # -- paths ---------------------------------------------------------------
    def table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def log_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.snapshots.jsonl")

    # -- log -----------------------------------------------------------------
    def snapshots(self, table: str) -> list[dict]:
        path = self.log_path(table)
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]

    def current(self, table: str) -> dict | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    def _append(self, table: str, row: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(self.log_path(table), "a", encoding="utf-8") as f:
            f.write(json.dumps(row) + "\n")

    # -- write ----------------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
    ) -> dict:
        """Write ``df`` (already carrying ``_bucket``) as a new immutable
        commit directory, then publish a snapshot whose mapping repoints
        (``mode="overwrite"``, dynamic-partition-overwrite semantics) or
        extends (``mode="append"``: the new files sit beside the bucket's
        existing ones) the written buckets — the parent snapshot stays
        readable either way. The mapping is bucket -> [commit dirs],
        Iceberg's manifest list keyed by partition. Any other ``mode``
        raises ``ValueError`` before anything is written."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be 'overwrite' or 'append', not {mode!r}")
        parent = self.current(table)
        sid = (parent["snapshot_id"] + 1) if parent else 1
        cname = f"c{sid:06d}"
        cdir = os.path.join(self.table_dir(table), f"_commit={cname}")
        if os.path.isdir(cdir):  # leftover from a crashed, unpublished commit
            shutil.rmtree(cdir)
        # one file per bucket dir regardless of task count (see
        # catalog.write_buckets: N tasks x B dirs is a small-file storm).
        # Fixed partition count — a distinct().collect() to size it exactly
        # would execute the whole upstream transform a SECOND time (the
        # written bucket list is recovered from the directory glob below)
        df.repartition(64, BUCKET_COL).write.mode(
            "overwrite"
        ).partitionBy(BUCKET_COL).parquet(cdir)
        written = sorted(
            int(os.path.basename(p).split("=", 1)[1])
            for p in glob.glob(os.path.join(cdir, f"{BUCKET_COL}=*"))
        )
        mapping = (
            {b: list(c) for b, c in parent["mapping"].items()} if parent else {}
        )
        for b in written:
            if mode == "append":
                mapping.setdefault(str(b), []).append(cname)
            else:
                mapping[str(b)] = [cname]
        snap = {
            "snapshot_id": sid,
            "parent_id": parent["snapshot_id"] if parent else None,
            "ts": time.time(),
            "op": f"{mode}-buckets",
            "written_buckets": written,
            "mapping": mapping,
            # the snapshot's schema (Iceberg: schema evolves with commits;
            # readers reconcile old files to the table schema on read)
            "schema": [
                [f.name, f.dataType.simpleString()]
                for f in df.schema.fields
                if f.name != BUCKET_COL
            ],
        }
        self._append(table, snap)  # the commit point
        return snap

    # -- read ------------------------------------------------------------------
    def _resolve(
        self, table: str, snapshot_id: int | None = None, as_of: float | None = None
    ) -> dict:
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot_id"] == snapshot_id:
                    return s
            raise KeyError(f"{table!r} has no snapshot {snapshot_id}")
        if as_of is not None:
            live = [s for s in snaps if s["ts"] <= as_of]
            if not live:
                raise KeyError(f"{table!r} has no snapshot at or before {as_of}")
            return live[-1]
        return snaps[-1]

    def read(
        self,
        spark: SparkSession,
        table: str,
        snapshot_id: int | None = None,
        as_of: float | None = None,
        use_schema: str = "table",
    ) -> DataFrame:
        """Read a snapshot. ``use_schema`` picks the projection schema
        (Iceberg semantics: the schema is TABLE-scoped, so time travel
        reads old data through the *current* schema by default):

        - ``"table"`` — the latest snapshot's recorded schema: columns
          added since the read snapshot come back NULL-backfilled, columns
          dropped since are omitted (add/drop column without rewriting a
          single data file);
        - ``"snapshot"`` — the schema recorded WITH the read snapshot
          (what a writer at that point saw);
        - ``"stored"`` — raw parquet union, no reconciliation.
        """
        snap = self._resolve(table, snapshot_id, as_of)
        tdir = self.table_dir(table)
        target = None
        if use_schema == "table":
            head = self.current(table)
            target = head.get("schema") if head else None
        elif use_schema == "snapshot":
            target = snap.get("schema")
        # one snapshot may span commits written under different schemas
        # (append-mode evolution). Parquet footer merging can't widen types
        # (INT vs BIGINT aborts), so instead group the referenced commit
        # dirs by their RECORDED schema (the log is the source of truth,
        # Iceberg-style — no footer reads), reconcile each group to the
        # target schema, and union. Groups = schema versions: few.
        commit_schema = {
            f"c{s['snapshot_id']:06d}": s.get("schema")
            for s in self.snapshots(table)
        }
        groups: dict[tuple, list[str]] = {}
        for b, commits in sorted(snap["mapping"].items(), key=lambda kv: int(kv[0])):
            for commit in commits:
                sch = commit_schema.get(commit)
                key = tuple(tuple(c) for c in sch) if sch else ("__unknown__",)
                groups.setdefault(key, []).append(
                    os.path.join(tdir, f"_commit={commit}", f"{BUCKET_COL}={b}")
                )
        if not groups:
            raise FileNotFoundError(f"snapshot {snap['snapshot_id']} of {table!r} is empty")
        parts = []
        for paths in groups.values():
            df = spark.read.option("basePath", tdir).parquet(*paths).drop("_commit")
            if target is not None:
                df = df.select(
                    *[
                        F.col(name).cast(typ)
                        if name in df.columns
                        else F.lit(None).cast(typ).alias(name)
                        for name, typ in target
                    ],
                    BUCKET_COL,
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=target is None)
        return out

    # -- history operations ------------------------------------------------------
    def rollback(self, table: str, snapshot_id: int) -> dict:
        """Publish a NEW snapshot that restores an older mapping (Iceberg
        ``rollback_to_snapshot``): history stays linear and append-only."""
        target = self._resolve(table, snapshot_id=snapshot_id)
        head = self.current(table)
        snap = {
            "snapshot_id": head["snapshot_id"] + 1,
            "parent_id": head["snapshot_id"],
            "ts": time.time(),
            "op": f"rollback-to-{snapshot_id}",
            "written_buckets": [],
            "mapping": {b: list(c) for b, c in target["mapping"].items()},
        }
        # restore the schema with the mapping: dropping it would change
        # read reconciliation
        if "schema" in target:
            snap["schema"] = target["schema"]
        self._append(table, snap)
        return snap

    def changed_buckets(
        self, table: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> list[int]:
        """Buckets whose file set differs between two snapshots — the unit
        of incremental recomputation: a downstream stage re-reads ONLY
        these buckets and leaves the rest of its own output untouched
        (the Runner's per-bucket overwrite makes that sound). O(buckets)
        metadata work, no data scan."""
        a = self._resolve(table, snapshot_id=from_snapshot)["mapping"]
        b = self._resolve(table, snapshot_id=to_snapshot)["mapping"]
        return sorted(
            int(k)
            for k in set(a) | set(b)
            if a.get(k) != b.get(k)
        )

    def read_buckets(
        self,
        spark: SparkSession,
        table: str,
        buckets: list[int],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Read only ``buckets`` of a snapshot — path selection, so an
        incremental stage's input cost is O(changed data)."""
        snap = self._resolve(table, snapshot_id)
        tdir = self.table_dir(table)
        want = {str(b) for b in buckets}
        paths = [
            os.path.join(tdir, f"_commit={commit}", f"{BUCKET_COL}={b}")
            for b, commits in snap["mapping"].items()
            if b in want
            for commit in commits
        ]
        if not paths:
            raise FileNotFoundError(f"{table!r}: none of {sorted(want)} in snapshot")
        return spark.read.option("basePath", tdir).parquet(*paths).drop("_commit")

    def expire(self, table: str, keep_last: int = 1) -> dict:
        """Drop all but the last ``keep_last`` snapshots and delete commit
        directories no retained snapshot references (expire_snapshots +
        remove_orphan_files). The log is rewritten to a sibling file first
        and swapped in, so a crash leaves either the old or the new log."""
        snaps = self.snapshots(table)
        if not snaps:
            return {"retained": 0, "removed_commits": 0}
        retained = snaps[-keep_last:]
        referenced = {
            c for s in retained for commits in s["mapping"].values() for c in commits
        }
        tdir = self.table_dir(table)
        removed = 0
        for cdir in glob.glob(os.path.join(tdir, "_commit=c*")):
            if os.path.basename(cdir).split("=", 1)[1] not in referenced:
                shutil.rmtree(cdir)
                removed += 1
        tmp = self.log_path(table) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            for s in retained:
                f.write(json.dumps(s) + "\n")
        os.replace(tmp, self.log_path(table))
        return {"retained": len(retained), "removed_commits": removed}


def cdc_diff(
    cat: SnapshotCatalog,
    spark: SparkSession,
    table: str,
    from_snapshot: int,
    to_snapshot: int,
    key: str,
) -> DataFrame:
    """Row-level change-data-capture between two snapshots (Iceberg's
    ``create_changelog_view``): rows keyed by ``key`` classified as
    ``D`` (deleted), ``I`` (inserted), or an update pair ``U_before`` /
    ``U_after``; unchanged rows emit nothing.

    Scale shape: both sides read ONLY the buckets whose file mapping
    changed between the snapshots (``changed_buckets`` — O(buckets)
    metadata); rows in untouched buckets live in the SAME immutable files
    in both snapshots and cannot differ, so CDC cost is O(changed data) +
    one hash join on the key, never a full-table diff. Row identity is an
    md5 fingerprint over the to-snapshot schema's non-key columns
    (null-safe), so schema evolution composes: a column added between the
    snapshots NULL-backfills on the old side and only rows whose values
    actually differ surface as updates.
    """
    changed = set(cat.changed_buckets(table, from_snapshot, to_snapshot))
    in_changed = F.col(BUCKET_COL).isin(*changed) if changed else F.lit(False)
    old = cat.read(spark, table, snapshot_id=from_snapshot).filter(in_changed)
    new = cat.read(spark, table, snapshot_id=to_snapshot).filter(in_changed)
    cols = [c for c in new.columns if c not in (key, BUCKET_COL)]
    fp = F.md5(
        F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
        )
    )
    o = old.select(
        F.col(key).alias("_k"), fp.alias("_fp"), *[F.col(c).alias(c) for c in cols]
    )
    n = new.select(
        F.col(key).alias("_k"), fp.alias("_fp"), *[F.col(c).alias(c) for c in cols]
    )
    j = o.alias("o").join(n.alias("n"), F.col("o._k") == F.col("n._k"), "full_outer")
    deletes = j.filter(F.col("n._k").isNull()).select(
        F.col("o._k").alias(key), F.lit("D").alias("_change_type"),
        *[F.col(f"o.{c}").alias(c) for c in cols],
    )
    inserts = j.filter(F.col("o._k").isNull()).select(
        F.col("n._k").alias(key), F.lit("I").alias("_change_type"),
        *[F.col(f"n.{c}").alias(c) for c in cols],
    )
    upd = j.filter(
        F.col("o._k").isNotNull()
        & F.col("n._k").isNotNull()
        & (F.col("o._fp") != F.col("n._fp"))
    )
    u_before = upd.select(
        F.col("o._k").alias(key), F.lit("U_before").alias("_change_type"),
        *[F.col(f"o.{c}").alias(c) for c in cols],
    )
    u_after = upd.select(
        F.col("n._k").alias(key), F.lit("U_after").alias("_change_type"),
        *[F.col(f"n.{c}").alias(c) for c in cols],
    )
    return deletes.unionByName(inserts).unionByName(u_before).unionByName(u_after)
