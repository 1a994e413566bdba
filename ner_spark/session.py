"""SparkSession factory tuned for the KG pipeline.

Local-mode settings mirror what we would submit to a real cluster: AQE with
skew-join splitting on (the north_rule calls it out for the linking join),
Arrow enabled for every pandas UDF boundary, shuffle partitions sized to the
core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def machine_size() -> tuple[int, str]:
    """(cores, driver memory) to size a local session by. Each comes from
    its env var when set (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEM``),
    otherwise from this machine: the cores this process may run on, and a
    quarter of physical memory clamped to 1g..8g (the JVM shares the box
    with the Python workers and the driver process)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        with open("/proc/meminfo", encoding="utf-8") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        mem = f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"
    return cpus, mem


def get_spark(
    app_name: str = "ner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[cores]`` and the driver heap to the
    memory of :func:`machine_size`. ``shuffle_partitions`` defaults to the
    core count of the master string — at cluster scale you would set this
    to ~2-3x total cores instead.
    """
    cpus, driver_mem = machine_size()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / yarn etc. -> fall back to cpus
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` from every
        # inner explode; predicate pushdown then inlines the array-building
        # expression into a per-row filter below the Project that computes
        # it. For posting-list explodes over shingle/banded-hash arrays the
        # array expression is expensive (the gram builder re-reads its token
        # input 3*n times), so every row pays the build twice — measured 17x
        # on contamination_check at sf0.1. Our posting arrays are provably
        # non-empty, so the inferred filter never removes a row; excluding
        # the rule is a pure win. Hot operators ALSO use explode_outer
        # (semantically identical on non-empty arrays, exempt from the rule)
        # so they stay fast under sessions we don't configure.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
