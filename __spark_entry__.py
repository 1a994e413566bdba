"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG pipeline (clean -> 3 extractors -> consensus
-> triples) on sf0.001. ``queries``/``oracle_sql`` expose the operator
registry in ner_spark/queries.py, where each Spark query is paired with an
ANSI-SQL DuckDB oracle (UDF-backed queries have no oracle and get the
driver's rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ner_spark.flagship import flagship_triples

    return flagship_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ner_spark import queries as Q

    return dict(Q.Q)


def oracle_sql() -> dict[str, str]:
    """Oracle SQL per registry query name.

    The four centroid-literal oracles (``ann_topk_ivf``,
    ``embedding_kmeans_stats``, ``ann_topk_ivfpq``, ``dedup_semantic_prune``)
    inline centroids and codebooks trained on the sf0.01 test data
    (``register_ivf_oracle``'s default) whatever sf_dir the caller
    compares, while the Spark queries train on the sf_dir they are given:
    at any other scale those four disagree. Call
    ``ner_spark.queries_hash.register_ivf_oracle(sf_dir)`` first to
    regenerate them for that sf_dir, as ``tools/driver_sim.py`` and
    perfbench do.
    """
    from ner_spark import queries as Q

    return dict(Q.ORACLE)
