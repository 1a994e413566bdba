"""Semantics for the batch-11 operators: the blocking-eval scorecard vs
a Python reconciliation of the two pair sets, RFM vs a NumPy replay,
and the template score vs a dict-based df scan."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from ner_spark.queries_relops11 import (
    _BE_BANDS,
    _BE_K,
    _BE_THRESHOLD,
    _TPL_MIN_DF,
    dedup_blocking_eval,
    doc_template_score,
    events_rfm_segments,
)

SF = "/root/testdata/sf0.001"


def test_blocking_eval_matches_python_reconciliation(spark):
    from ner_spark.operators.dedup import minhash_verified_pairs, ngram_jaccard_pairs
    from ner_spark.queries import _NGRAM_MAX_DF, _t

    docs = _t(spark, SF, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(
            docs, threshold=_BE_THRESHOLD, max_df=_NGRAM_MAX_DF
        ).collect()
    }
    method = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_verified_pairs(
            docs, threshold=_BE_THRESHOLD, k=_BE_K, bands=_BE_BANDS
        ).collect()
    }
    r = dedup_blocking_eval(spark, SF).collect()[0]
    tp = len(truth & method)
    assert r["n_truth"] == len(truth)
    assert r["n_method"] == len(method)
    assert r["tp"] == tp
    assert r["fp"] == len(method - truth)
    assert r["fn"] == len(truth - method)
    assert r["tp"] + r["fn"] == r["n_truth"]
    assert r["tp"] + r["fp"] == r["n_method"]
    assert r["precision_"] == round(tp / len(method), 6)
    assert r["recall_"] == round(tp / len(truth), 6)


def test_rfm_segments_match_numpy(spark):
    rows = {r["segment"]: r for r in events_rfm_segments(spark, SF).collect()}
    ev = pd.read_parquet(f"{SF}/events.parquet")
    # ts is datetime64[us]: the raw int64 value is MICROseconds
    ev["s"] = (ev.ts.astype("int64") // 10**6).astype(np.int64)
    ev["vm"] = np.floor(ev.value * 1000).astype(np.int64)
    u = ev.groupby("user_id").agg(last_s=("s", "max"), freq=("s", "size"), mon=("vm", "sum"))
    u["rec_s"] = u.last_s.max() - u.last_s

    def q_at(vals, q):
        # BOTH engines interpolate with the TWO-SIDED weighting
        # v[hi]*(idx-lo) + v[lo]*(hi-idx) (fuzz-verified bit-equal for
        # Spark percentile and DuckDB quantile_cont); the one-sided
        # v[lo] + frac*(v[hi]-v[lo]) differs in the last ulp at large
        # magnitudes and flips boundary users
        v = np.sort(vals)
        idx = q * (len(v) - 1)
        lo, hi = int(np.floor(idx)), int(np.ceil(idx))
        if lo == hi:
            return float(v[lo])
        return v[hi] * (idx - lo) + v[lo] * (hi - idx)

    th = {c: (q_at(u[c].to_numpy(), 1.0 / 3), q_at(u[c].to_numpy(), 2.0 / 3))
          for c in ("rec_s", "freq", "mon")}
    seg = (
        np.where(u.rec_s <= th["rec_s"][0], 3, np.where(u.rec_s <= th["rec_s"][1], 2, 1)) * 100
        + np.where(u.freq >= th["freq"][1], 3, np.where(u.freq >= th["freq"][0], 2, 1)) * 10
        + np.where(u.mon >= th["mon"][1], 3, np.where(u.mon >= th["mon"][0], 2, 1))
    )
    u["segment"] = seg
    exp = u.groupby("segment").agg(n=("segment", "size"), lo=("mon", "min"), hi=("mon", "max"))
    assert set(rows) == set(exp.index)
    for s, e in exp.iterrows():
        r = rows[s]
        assert (r["n_users"], r["min_mon_milli"], r["max_mon_milli"]) == (
            e.n, e.lo, e.hi
        ), s
    assert len(rows) > 3, "tercile segmentation degenerated"


def _shingle_set(text: str) -> set[str]:
    toks = text.strip().split()
    if len(toks) >= 3:
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    return {" ".join(toks)}


def test_template_score_matches_df_scan(spark):
    rows = {r["doc_id"]: r for r in doc_template_score(spark, SF).collect()}
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs = docs[docs.text.notna() & (docs.text.str.strip() != "")]
    grams = {row.doc_id: _shingle_set(row.text) for _, row in docs.iterrows()}
    df = Counter(g for sh in grams.values() for g in sh)
    assert set(rows) == set(grams)
    for did, sh in grams.items():
        n_tpl = sum(1 for g in sh if df[g] >= _TPL_MIN_DF)
        r = rows[did]
        assert r["n_grams"] == len(sh)
        assert r["n_template"] == n_tpl
        assert r["template_score"] == round(n_tpl / len(sh), 6)
