"""Pandas oracle: the reference's semantics, restated independently.

This is the golden comparator for the Spark engine (FIXTURES.md F5). It
follows the *reference formulation* on purpose — iterated full-outer merges
with provenance fusion (reference: src/utils/ner_config.py:57-117), groupby-
transform strict-majority vote (ner_config.py:120-156), wide ``grf_i``
columns with the verified NaN/empty-slot quirk (ner_config.py:159-197),
explode/collapse correction join (ner_config.py:200-307) — so that the Spark
engine's single-shuffle reformulations are proven equivalent against it, not
against themselves. Shared with the engine: only the extractor scan helpers
(they define the synthetic taggers' output, i.e. the spec of WHAT a tagger
finds, not of the consensus math under test).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from ner_spark.extractors.casen import _compile, _scan_doc
from ner_spark.extractors.model_stub import _stub_scan
from ner_spark.operators.relations import MAX_GAP, PRED_RULES
from ner_spark.synth import GAZ_GRF

KEYS = ["doc_uid", "NE", "label", "start", "end"]


def _norm_ws(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def clean_docs(docs: pd.DataFrame) -> pd.DataFrame:
    """S0+S1: normalize span text + dedup identical docs (epg_cleaner semantics)."""
    rows = []
    for r in docs.itertuples(index=False):
        spans = sorted(r.spans, key=lambda s: s["offset"]) if r.spans is not None else []
        texts = [s["text"] for s in spans if s["kind"] == "text" and s["text"]]
        text = _norm_ws(" ".join(texts))
        if text:
            rows.append({"doc_id": r.doc_id, "text": text})
    df = pd.DataFrame(rows)
    grouped = (
        df.sort_values("doc_id")
        .groupby("text", as_index=False)
        .agg(doc_uid=("doc_id", "min"), files_id=("doc_id", lambda s: sorted(s)))
    )
    return grouped[["doc_uid", "text", "files_id"]]


def _context(text: str, start: int, end: int, window: int = 30) -> str:
    return text[max(0, start - window) : end + window]


def tag_all(clean: pd.DataFrame, gaz_rows, pattern_rows) -> dict[str, pd.DataFrame]:
    """Run the three synthetic taggers per document (the extractor spec)."""
    gaz_re, by_surface, pats = _compile(list(gaz_rows), list(pattern_rows))
    tables: dict[str, list] = {"casEN": [], "spaCy": [], "stanza": []}
    for r in clean.itertuples(index=False):
        for m in _scan_doc(r.text, gaz_re, by_surface, pats, GAZ_GRF):
            tables["casEN"].append({**m, "doc_uid": r.doc_uid, "method": "casEN",
                                    "context": _context(r.text, m["start"], m["end"])})
        for name in ("spaCy", "stanza"):
            for m in _stub_scan(r.doc_uid, r.text, gaz_re, by_surface, name):
                tables[name].append({**m, "doc_uid": r.doc_uid, "method": name,
                                     "context": _context(r.text, m["start"], m["end"])})
    cols = KEYS + ["method", "grfs", "context"]
    return {
        k: pd.DataFrame(v, columns=["NE", "label", "start", "end", "grfs",
                                    "doc_uid", "method", "context"])[cols]
        for k, v in tables.items()
    }


def consensus_merge(tables: list[pd.DataFrame]) -> pd.DataFrame:
    """Iterated full-outer merge with method fusion — the reference fold."""
    acc = tables[0].copy()
    for nxt in tables[1:]:
        merged = pd.merge(
            acc.rename(columns={c: f"{c}__L" for c in acc.columns if c not in KEYS}),
            nxt.rename(columns={c: f"{c}__R" for c in nxt.columns if c not in KEYS}),
            on=KEYS,
            how="outer",
            indicator=True,
        )
        both = merged["_merge"] == "both"
        left_only = merged["_merge"] == "left_only"
        merged["method"] = np.where(
            both,
            merged["method__L"].astype(str) + "_" + merged["method__R"].astype(str),
            np.where(left_only, merged["method__L"], merged["method__R"]),
        )
        for c in ("grfs", "context"):
            merged[c] = merged[f"{c}__L"].combine_first(merged[f"{c}__R"])
        acc = merged[KEYS + ["method", "grfs", "context"]]
    return acc.reset_index(drop=True)


def priority_vote(df: pd.DataFrame, labels=("PER",)) -> pd.DataFrame:
    df = df.copy()
    gcols = ["doc_uid", "start", "end", "NE"]
    w = df["method"].str.count("_") + 1
    df["_w"] = w
    grp = df.groupby(gcols)["_w"]
    size = grp.transform("count")
    wmax = grp.transform("max")
    winners = grp.transform(lambda x: int((x == x.max()).sum()))
    hit = df["label"].isin(labels) & (size > 1) & (w == wmax) & (winners == 1)
    df.loc[hit, "method"] = df.loc[hit, "method"] + "_priority"
    return df.drop(columns=["_w"])


def promote_trusted(df: pd.DataFrame, combos: list[list[str]]) -> pd.DataFrame:
    """Wide-column combo matching with the verified NaN quirk."""
    df = df.copy()
    is_seq = lambda g: isinstance(g, (list, tuple, np.ndarray))  # noqa: E731
    width = int(df["grfs"].map(lambda g: len(g) if is_seq(g) else 0).max() or 0)
    for i in range(width):
        df[f"grf_{i + 1}"] = df["grfs"].map(
            lambda g: g[i] if is_seq(g) and len(g) > i else np.nan
        )
    fired = pd.Series(False, index=df.index)
    for slots in combos:
        ok = pd.Series(True, index=df.index)
        skipped = False
        for i, slot in enumerate(slots):
            col = f"grf_{i + 1}"
            if col not in df.columns:
                skipped = True  # whole combo skipped when the column is absent
                break
            ok &= df[col] == slot  # NaN == "" is False: short combos never fire
        if not skipped:
            fired |= ok
    hit = (df["method"] == "casEN") & fired
    df.loc[hit, "method"] = "casENOpti"
    return df[[c for c in df.columns if not c.startswith("grf_")]]


def apply_corrections(df: pd.DataFrame, corr: pd.DataFrame) -> pd.DataFrame:
    corr_cols = [c for c in ("manual_cat", "correct", "extent", "NER_category") if c in corr.columns]
    c = corr.dropna(subset=["files_id"]).copy()
    # per-column min over duplicate correction keys (mirrors the engine's
    # pinned-survivor dedup; the reference drops arbitrarily)
    c = c[["NE", "label", "files_id"] + corr_cols].groupby(
        ["NE", "label", "files_id"], as_index=False
    ).min()
    base = df.reset_index(drop=True).copy()
    base["_uid"] = base.index
    ex = base[["_uid", "NE", "label", "files_id"]].explode("files_id")
    merged = ex.merge(c, on=["NE", "label", "files_id"], how="left")
    found = merged.sort_values(["_uid", "files_id"]).groupby("_uid")[corr_cols].first()
    out = base.join(found, on="_uid").drop(columns=["_uid"])
    return out[corr_cols + [c for c in out.columns if c not in corr_cols]]


def order_mentions(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["_k"] = df["files_id"].map(lambda x: x[0])
    out = df.sort_values(["_k", "start", "end", "NE", "label", "method"]).drop(columns="_k")
    return out.reset_index(drop=True)


def triples(mentions: pd.DataFrame, clean: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for r in mentions.itertuples(index=False):
        rows.append((r.NE, "instance_of", r.label, r.doc_uid, r.method))
    text_by_doc = dict(zip(clean["doc_uid"], clean["text"]))
    for doc_uid, grp in mentions.groupby("doc_uid"):
        text = text_by_doc[doc_uid]
        ms = grp.to_dict("records")
        for ma in ms:
            for mb in ms:
                if (ma["start"], ma["end"]) == (mb["start"], mb["end"]):
                    continue
                if not (ma["end"] <= mb["start"] <= ma["end"] + MAX_GAP):
                    continue
                if ma["NE"] == mb["NE"]:
                    continue
                between = text[ma["end"] : mb["start"]]
                pred = next(
                    (name for rx, name in PRED_RULES if re.search(rx, between)), None
                )
                if pred:
                    rows.append(
                        (ma["NE"], pred, mb["NE"], doc_uid, ma["method"] + "+" + mb["method"])
                    )
    t = pd.DataFrame(rows, columns=["subj", "pred", "obj", "doc_uid", "method"])
    return (
        t.sort_values(["doc_uid", "subj", "pred", "obj", "method"])
        .groupby(["doc_uid", "subj", "pred", "obj"], as_index=False)
        .first()[["subj", "pred", "obj", "doc_uid", "method"]]
    )


def run(docs: pd.DataFrame, gaz_rows, pattern_rows, combos, corr: pd.DataFrame | None):
    """Full oracle pipeline; returns dict of stage outputs."""
    clean = clean_docs(docs)
    tagged = tag_all(clean, gaz_rows, pattern_rows)
    cons = consensus_merge([tagged["casEN"], tagged["spaCy"], tagged["stanza"]])
    cons = priority_vote(cons, labels=("PER",))
    cons = promote_trusted(cons, combos)
    cons = cons.merge(clean[["doc_uid", "files_id"]], on="doc_uid", how="left")
    cons = order_mentions(cons)
    if corr is not None:
        cons = apply_corrections(cons, corr)
    trip = triples(cons, clean)
    return {"clean": clean, "tagged": tagged, "mentions": cons, "triples": trip}
