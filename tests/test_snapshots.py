"""Snapshot catalog: time travel, rollback, expiry, crash safety."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ner_spark.sources.catalog import BUCKET_COL, with_bucket
from ner_spark.sources.snapshots import SnapshotCatalog


def _bucketed(spark, n=40, buckets=4):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return with_bucket(df, "k", buckets)


def _counts(df):
    return {
        int(r[0]): int(r[1])
        for r in df.groupBy(BUCKET_COL).agg(F.count(F.lit(1))).collect()
    }


def test_commit_overwrite_and_time_travel(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    df = _bucketed(spark)
    base = _counts(df)

    s1 = cat.commit(df, "t")
    assert s1["snapshot_id"] == 1 and s1["parent_id"] is None

    # overwrite bucket 0 with a 1-row slice
    b0 = df.filter(F.col(BUCKET_COL) == 0).limit(1)
    s2 = cat.commit(b0, "t")
    assert s2["written_buckets"] == [0] and s2["parent_id"] == 1

    cur = _counts(cat.read(spark, "t"))
    assert cur[0] == 1
    assert all(cur[b] == base[b] for b in base if b != 0)

    # snapshot 1 still reads the original bucket 0
    old = _counts(cat.read(spark, "t", snapshot_id=1))
    assert old == base

    # as_of between the commits resolves to snapshot 1
    as_of = (s1["ts"] + s2["ts"]) / 2
    assert _counts(cat.read(spark, "t", as_of=as_of)) == base


def test_rollback_restores_mapping_and_expire_drops_orphans(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    df = _bucketed(spark)
    base = _counts(df)
    cat.commit(df, "t")
    cat.commit(df.filter(F.col(BUCKET_COL) == 1).limit(2), "t")
    s3 = cat.rollback("t", 1)
    assert s3["snapshot_id"] == 3 and s3["op"] == "rollback-to-1"
    assert _counts(cat.read(spark, "t")) == base

    # head (rollback) references only c000001 -> expire drops c000002
    res = cat.expire("t", keep_last=1)
    assert res["removed_commits"] == 1
    assert _counts(cat.read(spark, "t")) == base
    remaining = glob.glob(os.path.join(cat.table_dir("t"), "_commit=c*"))
    assert [os.path.basename(p) for p in remaining] == ["_commit=c000001"]
    # expired snapshots are gone from the log
    assert [s["snapshot_id"] for s in cat.snapshots("t")] == [3]


def test_unpublished_commit_dir_is_invisible_and_reclaimed(spark, tmp_path):
    """A crash between the data write and the log append leaves an orphan
    dir that readers never see and expire removes."""
    cat = SnapshotCatalog(str(tmp_path))
    df = _bucketed(spark)
    base = _counts(df)
    cat.commit(df, "t")
    # simulate the crashed second commit: data written, log NOT appended
    orphan = os.path.join(cat.table_dir("t"), "_commit=c000002")
    df.filter(F.col(BUCKET_COL) == 2).write.partitionBy(BUCKET_COL).parquet(orphan)
    assert _counts(cat.read(spark, "t")) == base  # reader ignores the orphan
    res = cat.expire("t", keep_last=1)
    assert res["removed_commits"] == 1 and not os.path.isdir(orphan)
    # a retried commit reuses the id cleanly
    s2 = cat.commit(df.filter(F.col(BUCKET_COL) == 2).limit(1), "t")
    assert s2["snapshot_id"] == 2
    assert _counts(cat.read(spark, "t"))[2] == 1


def test_unknown_commit_mode_writes_nothing(spark, tmp_path):
    """A commit mode other than overwrite/append fails before the data
    write: no commit dir, no snapshot."""
    cat = SnapshotCatalog(str(tmp_path))
    with pytest.raises(ValueError, match="merge"):
        cat.commit(_bucketed(spark), "t", mode="merge")
    assert glob.glob(os.path.join(cat.table_dir("t"), "_commit=*")) == []
    assert cat.snapshots("t") == []


def test_incremental_recompute_only_changed_buckets(spark, tmp_path):
    """Snapshot diff drives incremental recomputation: after an overwrite
    touching one bucket, the downstream stage re-reads exactly that bucket
    and its recomputed output matches a full recompute."""
    cat = SnapshotCatalog(str(tmp_path))
    df = _bucketed(spark, n=40, buckets=4)
    cat.commit(df, "t")
    # overwrite bucket 2 with doubled values
    v2 = df.filter(F.col(BUCKET_COL) == 2).withColumn("v", F.col("v") * 2)
    cat.commit(v2, "t")

    changed = cat.changed_buckets("t", 1, 2)
    assert changed == [2]

    def stage(d):  # the downstream transform: per-bucket sum
        return d.groupBy(BUCKET_COL).agg(F.sum("v").alias("sv"))

    # full recompute at snapshot 2 (the reference)
    full = {int(r[0]): int(r[1]) for r in stage(cat.read(spark, "t")).collect()}
    # incremental: stage over ONLY the changed bucket, merged with the
    # snapshot-1 outputs of the unchanged buckets
    old = {int(r[0]): int(r[1]) for r in stage(cat.read(spark, "t", snapshot_id=1)).collect()}
    inc_part = {
        int(r[0]): int(r[1])
        for r in stage(cat.read_buckets(spark, "t", changed)).collect()
    }
    merged = {**old, **inc_part}
    assert merged == full
    assert set(inc_part) == {2}


def test_schema_evolution_add_and_drop_column(spark, tmp_path):
    """Iceberg-style schema evolution without rewriting a data file:
    append-mode commits may add columns (old files NULL-backfill through
    the table schema), overwrite commits may drop them (old files project
    them away), and ``use_schema="snapshot"`` recovers the schema a writer
    saw at that point in history."""
    cat = SnapshotCatalog(str(tmp_path))
    v1 = _bucketed(spark, n=10, buckets=4)
    cat.commit(v1, "t")  # snapshot 1: (k, v)
    v2 = with_bucket(
        spark.range(100, 105).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            F.lit("x").alias("w"),
        ),
        "k",
        4,
    )
    snap2 = cat.commit(v2, "t", mode="append")  # snapshot 2: (k, v, w)
    assert snap2["op"] == "append-buckets"
    assert [s["op"] for s in cat.snapshots("t")] == [
        "overwrite-buckets",
        "append-buckets",
    ]

    cur = cat.read(spark, "t")
    assert set(cur.columns) == {"k", "v", "w", BUCKET_COL}
    byk = {int(r["k"]): r["w"] for r in cur.collect()}
    assert all(byk[k] is None for k in range(10))
    assert all(byk[k] == "x" for k in range(100, 105))

    # time travel reads OLD data through the CURRENT table schema
    old = cat.read(spark, "t", snapshot_id=1)
    assert "w" in old.columns
    assert old.filter(F.col("w").isNotNull()).count() == 0
    # ... unless asked for the snapshot's own schema
    own = cat.read(spark, "t", snapshot_id=1, use_schema="snapshot")
    assert "w" not in own.columns
    assert own.count() == 10

    # drop a column: a later overwrite commit without ``v`` makes untouched
    # buckets' files project v away when read through the table schema
    v3 = with_bucket(
        spark.range(200, 203).select(F.col("id").alias("k"), F.lit("y").alias("w")),
        "k",
        4,
    )
    cat.commit(v3, "t")  # snapshot 3: (k, w) — overwrites only v3's buckets
    head = cat.read(spark, "t")
    assert "v" not in head.columns and "w" in head.columns
    # rows from buckets v3 did not touch are still readable (as (k, w))
    assert head.count() > 3


def test_cdc_diff_classifies_changes(spark, tmp_path):
    """CDC between snapshots: deletes, inserts, update pairs; rows
    rewritten VERBATIM emit nothing; composes with schema evolution (a
    column added between the snapshots NULL-backfills on the old side,
    so a row differing only there is an update)."""
    from ner_spark.sources.snapshots import cdc_diff

    cat = SnapshotCatalog(str(tmp_path))
    v1 = with_bucket(
        spark.range(8).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        "k",
        2,
    )
    cat.commit(v1, "t")  # snapshot 1
    # v2: k=0,1 verbatim; k=2 value updated; k in 3..7 dropped; k=100 new;
    # and a NEW column tag ('' everywhere except k=1 -> schema-evolution
    # update: k=1 differs ONLY in the added column)
    v2 = with_bucket(
        spark.createDataFrame(
            [(0, 0, None), (1, 10, "tagged"), (2, 99, None), (100, 5, None)],
            "k long, v long, tag string",
        ),
        "k",
        2,
    )
    cat.commit(v2, "t")  # snapshot 2 (overwrites both buckets)
    out = cdc_diff(cat, spark, "t", 1, 2, "k").collect()
    by_type: dict[str, set[int]] = {}
    for r in out:
        by_type.setdefault(r["_change_type"], set()).add(int(r["k"]))
    assert by_type["D"] == {3, 4, 5, 6, 7}
    assert by_type["I"] == {100}
    # k=2 (value change) and k=1 (added-column change); k=0 is silent
    assert by_type["U_before"] == by_type["U_after"] == {1, 2}
    assert 0 not in {int(r["k"]) for r in out}
    ua = {int(r["k"]): r["tag"] for r in out if r["_change_type"] == "U_after"}
    ub = {int(r["k"]): r["tag"] for r in out if r["_change_type"] == "U_before"}
    assert ua[1] == "tagged" and ub[1] is None
