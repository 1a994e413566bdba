"""Session-scratch persist registry + cluster-visible scratch directories.

Operators persist intermediates (posting lists, candidate sets, fingerprint
tables) as barriers against recomputation; the operator cannot know when its
consumer is done, so it cannot unpersist. Left alone, a long-lived session
running many queries (the 184-query bench, a notebook, a query service)
accumulates every scratch cache until executor storage churns — measured
~2x wall on dedup_ngram_jaccard when it runs late in the registry sweep vs
isolated.

``scratch_persist`` is a drop-in for ``df.persist(level)`` that also records
the DataFrame; the HOST (bench loop, driver, service) calls
``release_scratch()`` at its natural "query is finished" boundary. Stage
outputs meant to outlive a query (the flagship memo in
:mod:`ner_spark.flagship`, pipeline caches in :mod:`ner_spark.plans.pipeline`)
deliberately do NOT register here.

``session_scratch_dir`` is the directory analogue: operators that need a
materialization barrier ON STORAGE (lineage-truncating parquet rounds,
deterministic sort checkpoints, demo catalogs) must NOT write to
``tempfile.mkdtemp()`` — that is a *driver-local* path, and on any
multi-executor deployment the executors either cannot reach it or each
write to a different local disk, corrupting the job. This helper resolves a
cluster-visible root instead and hands out unique subdirectories that are
removed (best effort, via the Hadoop FileSystem API so s3a/hdfs/file all
work) at the host's next ``release_scratch()``.

HOST CONTRACT: results returned from an operator that used either facility
must be fully consumed (collected / written) before the host's
``release_scratch()`` boundary. After release, a cached frame silently
recomputes and a scratch-dir-backed frame fails its next action loudly.
Both hosts in this repo (tools/driver_sim.py, bench.py) materialize
before releasing.
"""

from __future__ import annotations

import uuid

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_SCRATCH: list[DataFrame] = []
_SCRATCH_DIRS: list[tuple[SparkSession, str]] = []

SCRATCH_DIR_CONF = "spark.ner_spark.scratchDir"


def scratch_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """persist(level) + register for the next release_scratch()."""
    out = df.persist(level)
    _SCRATCH.append(out)
    return out


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under this session's Hadoop conf —
    scheme-aware, so the same code handles file:, hdfs: and s3a: roots."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def scratch_root(spark: SparkSession) -> str:
    """Cluster-visible scratch root. Resolution order:

    1. ``spark.ner_spark.scratchDir`` — set this to shared storage
       (hdfs://… or s3a://…) when deploying on a real cluster;
    2. ``spark.sql.warehouse.dir``/_ner_scratch — the warehouse must
       already be reachable by every executor for any managed-table write,
       so it is a scale-safe default (locally: ./spark-warehouse).
    """
    explicit = spark.conf.get(SCRATCH_DIR_CONF, "")
    if explicit:
        return explicit.rstrip("/")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    return f"{warehouse}/_ner_scratch"


def session_scratch_dir(spark: SparkSession, prefix: str = "scratch") -> str:
    """Create + register a unique cluster-visible scratch directory.

    The directory is removed at the host's next ``release_scratch()``;
    consume anything written there before that boundary (see module
    docstring for the host contract).
    """
    out = f"{scratch_root(spark)}/{prefix}_{uuid.uuid4().hex[:12]}"
    fs, jpath = _hadoop_fs(spark, out)
    fs.mkdirs(jpath)
    _SCRATCH_DIRS.append((spark, out))
    if out.startswith("file:"):
        # local-FS roots come back as POSIX paths so the driver-side
        # catalog shims (sources/catalog.py, sources/snapshots.py — the
        # documented Iceberg swap point, which do os.*/open() bookkeeping)
        # can share the same scratch; Spark reads/writes either form.
        # Remote schemes (hdfs:, s3a:) keep their URI untouched.
        return out[len("file:"):]
    return out


def release_scratch() -> int:
    """Unpersist every registered scratch cache and delete every registered
    scratch directory; returns how many caches were released."""
    n = len(_SCRATCH)
    for df in _SCRATCH:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _SCRATCH.clear()
    for spark, path in _SCRATCH_DIRS:
        try:
            fs, jpath = _hadoop_fs(spark, path)
            fs.delete(jpath, True)
        except Exception:
            pass  # session stopped or dir already gone — best effort
    _SCRATCH_DIRS.clear()
    return n
