from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner_spark import schemas, synth
from ner_spark.session import get_spark

N_DOCS = 120


def synth_corrections(spark, n_docs: int, seed: int = 42):
    """Manual-correction dimension (FIXTURES.md F4): hits, misses, dupes."""
    rows = []
    for i in range(0, n_docs, 7):  # some will match mentions, some won't
        ne = synth.PERSONS[i % len(synth.PERSONS)]
        rows.append((ne, "PER", f"doc{i:08d}", "personne", 1, 1, "PER"))
    for i in range(3, n_docs, 13):
        loc = synth.LOCATIONS[i % len(synth.LOCATIONS)]
        rows.append((loc, "LOC", f"doc{i:08d}", "lieu", 1, 0, "LOC"))
    # duplicate correction rows (deduped by the join, reference ner_config.py:222)
    if rows:
        rows.append(rows[0])
    # a correction that matches nothing
    rows.append(("Personne Inconnue", "PER", f"doc{n_docs + 5:08d}", "x", 0, 0, "PER"))
    return spark.createDataFrame(rows, schema=schemas.CORRECTIONS)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ner_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def docs(spark):
    return synth.synth_docs(spark, N_DOCS, seed=42).cache()


@pytest.fixture(scope="session")
def gazetteer(spark):
    return synth.synth_gazetteer(spark).cache()


@pytest.fixture(scope="session")
def patterns(spark):
    return synth.synth_patterns(spark).cache()


@pytest.fixture(scope="session")
def combos():
    return [c["slots"] for c in synth.TRUSTED_COMBOS]


@pytest.fixture(scope="session")
def corrections(spark):
    return synth_corrections(spark, N_DOCS, seed=42).cache()


@pytest.fixture(scope="session")
def gaz_rows(gazetteer):
    return [
        (r["alias"], r["label"])
        for r in gazetteer.select("alias", "label", "weight")
        .orderBy(F.desc("weight"), "alias", "label")
        .collect()
    ]


@pytest.fixture(scope="session")
def pattern_rows(patterns):
    return [
        (r["pattern_id"], r["regex"], r["label"])
        for r in patterns.select("pattern_id", "regex", "label")
        .orderBy("pattern_id")
        .collect()
    ]
