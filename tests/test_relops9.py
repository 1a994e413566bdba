"""Semantics for the batch-9 operators, each checked against an
independent brute-force re-derivation (not the SQL oracle): phrase
search vs substring-over-token-lists, power iteration vs a NumPy
integer replay, Markov transitions vs pandas groupby, compaction
binning invariants, and n-gram novelty vs a dict-based first-seen scan."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from ner_spark.queries_relops9 import (
    _COMPACT_TARGET,
    _PHRASES,
    _PI_ITERS,
    _PI_QUANT,
    _PI_XSCALE,
    corpus_ngram_novelty,
    embedding_power_iteration,
    events_markov_transitions,
    ir_phrase_search,
    table_compaction_plan,
)

SF = "/root/testdata/sf0.001"


def _docs():
    d = pd.read_parquet(f"{SF}/documents.parquet")
    return d[d.text.notna() & (d.text.str.strip() != "")]


def test_phrase_search_matches_bruteforce(spark):
    got = {
        (r["phrase"], r["doc_id"]): r["n_occ"]
        for r in ir_phrase_search(spark, SF).collect()
    }
    exp = {}
    for _, row in _docs().iterrows():
        toks = row.text.strip().split()
        for p in _PHRASES:
            pt = p.split()
            n = sum(
                1
                for i in range(len(toks) - len(pt) + 1)
                if toks[i : i + len(pt)] == pt
            )
            if n:
                exp[(p, row.doc_id)] = n
    assert got == exp


def test_power_iteration_matches_numpy_integer_replay(spark):
    out = {r["dim"]: (r["x"], r["y"]) for r in
           embedding_power_iteration(spark, SF).collect()}
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    V = (
        np.floor(np.stack(emb.embedding.values).astype(np.float64) * _PI_QUANT)
        .astype(np.int64)
        .astype(object)  # object -> exact Python ints, no overflow doubt
    )
    A = (V.T @ V).astype(object)
    x = np.full(A.shape[0], _PI_XSCALE, dtype=object)
    for _ in range(_PI_ITERS):
        y = A @ x
        maxy = max(max(abs(int(v)) for v in y), 1)
        x = np.array(
            [(-1 if int(v) < 0 else 1) * ((abs(int(v)) * _PI_XSCALE) // maxy)
             for v in y],
            dtype=object,
        )
    assert len(out) == A.shape[0]
    for d in range(A.shape[0]):
        assert out[d] == (int(x[d]), int(y[d])), d
    # the iteration must have actually moved off the ones vector
    assert len({v[0] for v in out.values()}) > 1


def test_markov_transitions_match_pandas(spark):
    rows = events_markov_transitions(spark, SF).collect()
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    ev["prev"] = ev.groupby("user_id").event_type.shift(1)
    tr = ev[ev.prev.notna()].groupby(["prev", "event_type"]).size()
    tot = tr.groupby(level=0).sum()
    assert len(rows) == len(tr)
    for r in rows:
        n = tr[(r["prev_type"], r["next_type"])]
        assert r["n_trans"] == n
        assert r["prob"] == round(n / tot[r["prev_type"]], 6)


def test_compaction_plan_bins_are_prefix_sum_exact(spark):
    rows = table_compaction_plan(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    exp = defaultdict(lambda: [0, 0, None, None])  # n, bytes, min, max
    for src, g in docs.groupby("source"):
        cum = 0
        for _, row in g.sort_values("doc_id").iterrows():
            grp = cum // _COMPACT_TARGET
            cum += row.n_chars
            e = exp[(src, grp)]
            e[0] += 1
            e[1] += row.n_chars
            e[2] = row.doc_id if e[2] is None else min(e[2], row.doc_id)
            e[3] = row.doc_id if e[3] is None else max(e[3], row.doc_id)
    assert len(rows) == len(exp)
    for r in rows:
        e = exp[(r["source"], r["file_group"])]
        assert (r["n_files"], r["total_bytes"], r["min_doc"], r["max_doc"]) == tuple(e)
    # groups within a partition must be dense 0..k
    per_src = defaultdict(set)
    for r in rows:
        per_src[r["source"]].add(r["file_group"])
    for src, grps in per_src.items():
        assert grps == set(range(len(grps))), src


def _shingle_set(text: str) -> set[str]:
    toks = text.strip().split()
    if len(toks) >= 3:
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    return {" ".join(toks)}


def test_ngram_novelty_matches_firstseen_scan(spark):
    rows = {r["doc_id"]: r for r in corpus_ngram_novelty(spark, SF).collect()}
    docs = _docs().sort_values("doc_id")
    first = {}
    grams = {}
    for _, row in docs.iterrows():
        sh = _shingle_set(row.text)
        grams[row.doc_id] = sh
        for g in sh:
            first.setdefault(g, row.doc_id)
    assert set(rows) == set(grams)
    for did, sh in grams.items():
        novel = sum(1 for g in sh if first[g] == did)
        r = rows[did]
        assert r["n_grams"] == len(sh)
        assert r["n_novel"] == novel
        assert r["novelty"] == round(novel / len(sh), 6)
