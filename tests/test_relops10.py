"""Semantics for the batch-10 operators: incremental MinHash vs the
self-join family restricted to cross-split pairs, histogram-sketch
quantiles vs a Python replay + exact-percentile error bound, and RAKE
vs a dict-based brute force."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from ner_spark.queries_relops10 import (
    _HQ_PCTS,
    _INC_BANDS,
    _INC_K,
    _INC_MOD,
    _INC_THRESHOLD,
    _RAKE_MAXLEN,
    _RAKE_MIN_OCC,
    _RAKE_STOP,
    dedup_incremental_minhash,
    sketch_histogram_quantiles,
    text_keyword_rake,
)

SF = "/root/testdata/sf0.001"


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _is_delta(doc_id) -> bool:
    return _md5_60(f"inc:{doc_id}") % _INC_MOD == 0


def test_incremental_equals_selfjoin_restricted_to_cross_pairs(spark):
    """The asymmetric delta->index probe finds EXACTLY the verified
    self-join pairs that straddle the split (same k/bands/threshold):
    same band layout => same candidate buckets => same survivors."""
    from ner_spark.operators.dedup import minhash_verified_pairs
    from ner_spark.queries import _t

    inc = dedup_incremental_minhash(spark, SF).collect()
    for r in inc:
        assert _is_delta(r["doc_new"]) and not _is_delta(r["doc_idx"])
    got = {(r["doc_new"], r["doc_idx"]): r["jaccard"] for r in inc}

    full = minhash_verified_pairs(
        _t(spark, SF, "documents"),
        threshold=_INC_THRESHOLD,
        k=_INC_K,
        bands=_INC_BANDS,
    ).collect()
    exp = {}
    for r in full:
        a, b = r["doc_a"], r["doc_b"]
        if _is_delta(a) and not _is_delta(b):
            exp[(a, b)] = r["jaccard"]
        elif _is_delta(b) and not _is_delta(a):
            exp[(b, a)] = r["jaccard"]
    assert got == exp
    assert got, "fixture produced no cross-split near-dup pairs"


def test_histogram_quantiles_replay_and_error_bound(spark):
    rows = {r["l_returnflag"]: r for r in
            sketch_histogram_quantiles(spark, SF).collect()}
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    for flag, g in li.groupby("l_returnflag"):
        cents = np.floor(g.l_extendedprice.to_numpy() * 100).astype(np.int64)
        lbs = np.array(
            [int(str(c)[:2].ljust(len(str(c)), "0")) for c in cents]
        )
        hist = Counter(lbs)
        n = len(cents)
        r = rows[flag]
        assert r["n"] == n
        assert r["n_buckets"] == len(hist)
        cum = 0
        est = {}
        for lb in sorted(hist):
            cum += hist[lb]
            for q in _HQ_PCTS:
                if q not in est and cum * 100 >= q * n:
                    est[q] = lb
        for q in _HQ_PCTS:
            assert r[f"p{q}_cents"] == est[q], (flag, q)
            # sketch bound: the exact q-th percentile lies in the chosen
            # bucket [lb, lb + 10^(d-2)) => relative error < 1/10
            exact = np.sort(cents)[int(np.ceil(q * n / 100)) - 1]
            lb = est[q]
            width = 10 ** max(len(str(lb)) - 2, 0)
            assert lb <= exact < lb + width, (flag, q, lb, exact)


def test_rake_matches_bruteforce(spark):
    got = {r["phrase"]: (r["plen"], r["n_occ"], r["score_milli"])
           for r in text_keyword_rake(spark, SF).collect()}
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs = docs[docs.text.notna() & (docs.text.str.strip() != "")]
    runs = []  # (phrase tuple)
    for _, row in docs.iterrows():
        cur = []
        for t in row.text.strip().split() + [None]:
            if t is None or t in _RAKE_STOP:
                if cur and len(cur) <= _RAKE_MAXLEN:
                    runs.append(tuple(cur))
                cur = []
            else:
                cur.append(t)
    freq = Counter(w for r in runs for w in r)
    deg = defaultdict(int)
    for r in runs:
        for w in r:
            deg[w] += len(r)
    phrase_count = Counter(" ".join(r) for r in runs)
    exp = {}
    for r in set(runs):
        p = " ".join(r)
        if phrase_count[p] >= _RAKE_MIN_OCC:
            score = sum((1000 * deg[w]) // freq[w] for w in r)
            exp[p] = (len(r), phrase_count[p], score)
    assert got == exp
    assert exp, "fixture produced no repeated phrases"
