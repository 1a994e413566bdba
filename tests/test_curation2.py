"""Semantics for the curation flagship: the full funnel replayed in
Python — exact dedup by text, near-dup clusters via union-find over the
engine's OWN verified pairs (pair generation is already pinned by
test_relops10/test_dedup_similarity), quality gates, first-drop
attribution."""

from __future__ import annotations

import re
from collections import defaultdict

import pandas as pd

from ner_spark.queries_curation2 import (
    _CF_BANDS,
    _CF_K,
    _CF_THRESHOLD,
    curation_flagship,
)

SF = "/root/testdata/sf0.001"


def test_curation_flagship_matches_python_funnel(spark):
    from ner_spark.operators.dedup import minhash_verified_pairs
    from ner_spark.queries import _t

    docs = pd.read_parquet(f"{SF}/documents.parquet")

    def toks(t):
        return t.strip().split() if isinstance(t, str) and t.strip() else []

    # exact pass
    keeper = {}
    for _, row in docs.sort_values("doc_id").iterrows():
        if toks(row.text):
            keeper.setdefault(row.text, row.doc_id)
    keepers = set(keeper.values())

    # near-dup pass: pairs from the ENGINE operator on exact survivors
    sdocs = _t(spark, SF, "documents")
    from pyspark.sql import functions as F

    kept_sdf = sdocs.filter(F.col("doc_id").isin([int(k) for k in keepers]))
    pairs = minhash_verified_pairs(
        kept_sdf, threshold=_CF_THRESHOLD, k=_CF_K, bands=_CF_BANDS
    ).collect()
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["doc_a"]), find(r["doc_b"])
        if a != b:
            lo, hi = min(a, b), max(a, b)
            parent[hi] = lo
    near_dropped = {d for d in set(parent) if find(d) != d} | {
        d for d in parent if find(d) != d
    }

    exp = defaultdict(lambda: [0, 0])
    for _, row in docs.iterrows():
        tk = toks(row.text)
        n_tok = len(tk)
        if not tk:
            out = "empty"
        elif row.doc_id not in keepers:
            out = "exact_dup"
        elif row.doc_id in near_dropped:
            out = "near_dup"
        else:
            ink = len(re.sub(r"\s+", "", row.text))
            alpha = len(re.sub(r"[^A-Za-z]", "", row.text))
            ok = (
                n_tok >= 20
                and 3.0 <= ink / n_tok <= 12.0
                and alpha / len(row.text) >= 0.6
            )
            out = "kept" if ok else "low_quality"
        e = exp[(row.source, out)]
        e[0] += 1
        e[1] += n_tok
    got = {
        (r["source"], r["outcome"]): (r["n_docs"], r["n_tokens"])
        for r in curation_flagship(spark, SF).collect()
    }
    assert got == {k: tuple(v) for k, v in exp.items()}
    outcomes = {o for _, o in got}
    # sf0.001 has no exact duplicates; require survivors plus at least
    # one real drop gate firing so the attribution logic is exercised
    assert "kept" in outcomes and outcomes - {"kept"}, (
        "funnel degenerated: no attrition or nothing kept"
    )
