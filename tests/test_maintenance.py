"""Table-maintenance operations: small-file compaction and range-clustered
(zone-map) writes — the scan-cost levers a 100 TB table needs routinely."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from ner_spark.sources.catalog import (
    BUCKET_COL,
    Catalog,
    with_bucket,
    write_range_clustered,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_compact_table_reduces_files_and_preserves_rows(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    docs = with_bucket(_docs(spark), "doc_id", 4)
    # simulate an incremental writer: many tasks each opening a writer in
    # every bucket dir -> files per bucket == parallelism
    (
        docs.repartition(8)
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(cat.table_dir("docs"))
    )
    before = glob.glob(
        os.path.join(cat.table_dir("docs"), "**", "*.parquet"), recursive=True
    )
    assert len(before) > 8, "fixture should start fragmented"
    expected = sorted(
        tuple(r) for r in _docs(spark).select("doc_id", "text").collect()
    )

    stats = cat.compact_table(spark, "docs")

    after = glob.glob(
        os.path.join(cat.table_dir("docs"), "**", "*.parquet"), recursive=True
    )
    assert stats["files_before"] == len(before)
    assert stats["files_after"] == len(after)
    # one file per bucket dir
    for bdir in glob.glob(os.path.join(cat.table_dir("docs"), f"{BUCKET_COL}=*")):
        assert len(glob.glob(os.path.join(bdir, "*.parquet"))) == 1, bdir
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(cat.table_dir("docs"))
        .select("doc_id", "text")
        .collect()
    )
    assert got == expected
    assert any(r["stage"] == "compact" for r in cat.manifest_rows("docs"))


def test_compact_table_aborts_without_touching_source_on_mismatch(
    spark, tmp_path, monkeypatch
):
    cat = Catalog(str(tmp_path))
    docs = with_bucket(_docs(spark), "doc_id", 2)
    docs.repartition(4).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
        cat.table_dir("docs")
    )
    n_before = spark.read.parquet(cat.table_dir("docs")).count()

    real_read = spark.read.parquet
    calls = {"n": 0}

    class FakeReader:
        def parquet(self, path):
            df = real_read(path)
            calls["n"] += 1
            # second read is the staging verification — report one row short
            if calls["n"] == 2:
                return df.limit(max(n_before - 1, 0))
            return df

    monkeypatch.setattr(
        type(spark), "read", property(lambda self: FakeReader())
    )
    with pytest.raises(RuntimeError, match="compact docs"):
        cat.compact_table(spark, "docs")
    monkeypatch.undo()
    # source table untouched, staging cleaned up
    assert spark.read.parquet(cat.table_dir("docs")).count() == n_before
    assert not os.path.isdir(cat.table_dir("docs") + ".compact")


def test_range_clustered_write_produces_disjoint_file_ranges(spark, tmp_path):
    out = str(tmp_path / "clustered")
    docs = _docs(spark).select("doc_id", "n_chars")
    write_range_clustered(docs, out, "doc_id", n_files=6)

    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "doc_id"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 3
    ranges.sort()
    # pairwise disjoint: the zone map lets a reader skip whole files
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, f"overlapping file ranges: {ranges}"
    # a point predicate matches exactly one file's range
    probe = ranges[len(ranges) // 2][0]
    hits = [1 for lo, hi in ranges if lo <= probe <= hi]
    assert sum(hits) == 1
    # and the data round-trips
    assert spark.read.parquet(out).count() == docs.count()


def test_compact_keeps_stored_schema(spark, tmp_path):
    """A Runner-written table keeps its stored schema across the compaction
    swap, so reads after compaction still skip schema inference."""
    from ner_spark.plans.runner import Runner

    cat = Catalog(str(tmp_path / "cat"))
    docs = spark.range(40).selectExpr("cast(id as string) as doc_uid", "id * 2 as v")
    out, _ = Runner(spark=spark, catalog=cat, n_buckets=4).stage(
        "t", docs, lambda d: d, key="doc_uid"
    )
    before = sorted(map(tuple, out.collect()))
    cat.compact_table(spark, "t")
    assert os.path.exists(cat.schema_path("t"))
    after = cat.read(spark, "t").drop(BUCKET_COL)
    assert after.schema == out.schema
    assert sorted(map(tuple, after.collect())) == before
