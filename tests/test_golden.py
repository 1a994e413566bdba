"""Golden end-to-end: Spark engine vs pandas oracle (reference semantics).

The oracle (oracle/pandas_oracle.py) implements the reference's literal
formulation (iterated outer-join fold, transform vote, wide-grf NaN quirk,
explode/collapse corrections). The engine implements the one-shuffle Spark
reformulation. This test proves them equal row-for-row, and checks the
triple P/R >= 0.95 gate (it should be exactly 1.0).
"""

from __future__ import annotations

import pandas as pd
import pytest

from conftest import synth_corrections
from oracle import pandas_oracle as O
from ner_spark.plans.pipeline import KGPipeline


@pytest.fixture(scope="module")
def oracle_out(docs, gaz_rows, pattern_rows, combos, corrections):
    docs_pdf = docs.toPandas()
    corr_pdf = corrections.toPandas()
    return O.run(docs_pdf, gaz_rows, pattern_rows, combos, corr_pdf)


@pytest.fixture(scope="module")
def engine_out(docs, gazetteer, patterns, combos, corrections):
    pipe = KGPipeline(
        gazetteer=gazetteer,
        patterns=patterns,
        trusted_combos=combos,
        corrections=corrections,
    )
    return pipe.run(docs)


def _mention_set(df: pd.DataFrame) -> set:
    return {
        (r.doc_uid, r.NE, r.label, int(r.start), int(r.end), r.method)
        for r in df.itertuples(index=False)
    }


def test_clean_matches_oracle(engine_out, oracle_out):
    eng = engine_out["clean"].select("doc_uid", "text", "files_id").toPandas()
    ora = oracle_out["clean"]
    e = {(r.doc_uid, r.text, tuple(r.files_id)) for r in eng.itertuples(index=False)}
    o = {(r.doc_uid, r.text, tuple(r.files_id)) for r in ora.itertuples(index=False)}
    assert e == o


def test_mentions_match_oracle_exactly(engine_out, oracle_out):
    eng = engine_out["mentions"].toPandas()
    ora = oracle_out["mentions"]
    assert _mention_set(eng) == _mention_set(ora)


def test_method_mix_is_nontrivial(oracle_out):
    """The corpus must actually exercise fusion, vote, and promotion."""
    methods = set(oracle_out["mentions"]["method"])
    assert any("_" in m and not m.endswith("_priority") for m in methods)
    assert any(m.endswith("_priority") for m in methods)
    assert "casENOpti" in methods, "trusted-combo promotion never fired"
    assert "casEN" in methods


def test_short_combos_never_fire(docs, gaz_rows, pattern_rows, corrections):
    """The verified NaN quirk: combos with '' slots must not promote."""
    short_only = [["grfLocGazetteer", "", ""], ["grfPerGazetteer", "grfpersGenerique", ""]]
    out = O.run(docs.toPandas(), gaz_rows, pattern_rows, short_only, None)
    assert "casENOpti" not in set(out["mentions"]["method"])


def test_corrections_injected(engine_out, oracle_out):
    eng = engine_out["mentions"].toPandas()
    ora = oracle_out["mentions"]
    assert int(eng["correct"].notna().sum()) == int(ora["correct"].notna().sum())
    assert int(eng["correct"].notna().sum()) > 0
    key = ["doc_uid", "NE", "label", "start", "end"]
    cols = key + ["manual_cat", "correct", "extent", "NER_category"]
    e = eng[cols].sort_values(key).reset_index(drop=True)
    o = ora[cols].sort_values(key).reset_index(drop=True)
    e_t = {tuple(r) for r in e.fillna("∅").itertuples(index=False)}
    o_t = {tuple(r) for r in o.fillna("∅").itertuples(index=False)}
    assert e_t == o_t


def test_triples_pr_gate(engine_out, oracle_out):
    eng = engine_out["triples"].toPandas()
    ora = oracle_out["triples"]
    e = {(r.doc_uid, r.subj, r.pred, r.obj) for r in eng.itertuples(index=False)}
    o = {(r.doc_uid, r.subj, r.pred, r.obj) for r in ora.itertuples(index=False)}
    assert len(o) > 50, "oracle corpus too small to be meaningful"
    precision = len(e & o) / len(e)
    recall = len(e & o) / len(o)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall,
        list(e - o)[:5], list(o - e)[:5])


@pytest.mark.parametrize("seed", [7, 123, 9001])
def test_engine_equals_oracle_across_seeds(
    spark, gazetteer, patterns, gaz_rows, pattern_rows, combos, seed
):
    """Differential fuzz: the one-shuffle Spark reformulation must equal
    the reference-formulation pandas oracle on FRESH corpora, not just the
    seed-42 fixture corpus (duplicates, empty docs, agreement mixes and
    conflicts all re-randomize per seed)."""
    from ner_spark import synth

    docs = synth.synth_docs(spark, 150, seed=seed)
    corr = synth_corrections(spark, 150, seed=seed)
    oracle = O.run(docs.toPandas(), gaz_rows, pattern_rows, combos, corr.toPandas())
    engine = KGPipeline(
        gazetteer=gazetteer,
        patterns=patterns,
        trusted_combos=combos,
        corrections=corr,
    ).run(docs)
    got = _mention_set(engine["mentions"].toPandas())
    want = _mention_set(oracle["mentions"])
    assert got == want
    gt = {
        (r.subj, r.pred, r.obj, r.doc_uid)
        for r in engine["triples"].toPandas().itertuples(index=False)
    }
    wt = {
        (r.subj, r.pred, r.obj, r.doc_uid)
        for r in oracle["triples"].itertuples(index=False)
    }
    assert gt == wt and len(gt) > 50


def test_rule_rows_sort_in_spark_order(spark, gazetteer, patterns, gaz_rows, pattern_rows):
    """The extractors' driver-side sort of the dimension tables reproduces
    Spark's ``orderBy``: on the fixture tables, and on tables with NaN and
    null weights, null names and ties."""
    from pyspark.sql import functions as F

    from ner_spark.extractors import casen

    assert casen.gazetteer_rows(gazetteer) == tuple(gaz_rows)
    assert casen.pattern_rows(patterns) == tuple(pattern_rows)
    nan = float("nan")
    gaz = spark.createDataFrame(
        [("b", "PER", 1.0), ("a", "LOC", 1.0), ("a", "ORG", 1.0), ("c", None, None),
         ("d", "LOC", nan), (None, "PER", 2.0), ("é", "PER", -0.0), ("e", "PER", 0.0),
         ("z", "LOC", -3.5), ("y", "LOC", None), ("x", "PER", nan)],
        "alias string, label string, weight double",
    )
    pats = spark.createDataFrame(
        [("p2", "x", "LOC"), (None, "y", "PER"), ("p10", "z", "ORG")],
        "pattern_id string, regex string, label string",
    )
    assert casen.gazetteer_rows(gaz) == tuple(
        (r["alias"], r["label"])
        for r in gaz.orderBy(F.desc("weight"), "alias", "label").collect()
    )
    assert casen.pattern_rows(pats) == tuple(
        tuple(r) for r in pats.orderBy("pattern_id").collect()
    )
