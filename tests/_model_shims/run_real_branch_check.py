"""Subprocess body for tests/test_real_model_branch.py.

Runs in its OWN process with ``tests/_model_shims`` prepended to
PYTHONPATH, so ``import spacy`` / ``import stanza`` resolve to the
deterministic shims and the driver probes flip to the REAL branches —
without contaminating the main test session, whose flagship queries are
oracle-pinned to the stub.

Asserts the stub-vs-real contract the round-5 directive names:

1. real branch actually routes (probes True) through ``nlp.pipe`` /
   ``bulk_process`` per Arrow batch — on the default
   ``combined_mentions`` call too, the one every entry point makes;
2. schema parity: real and stub outputs have identical schemas;
3. row accounting: the real branch emits mentions for exactly the input
   docs that contain entities (empty text rows contribute zero, no doc is
   dropped or duplicated wholesale);
4. offset contract: text[start:end] == NE for every emitted row
   (row-relative offsets, i.e. the reference's concat-string offset
   re-attribution scan is provably unnecessary per-document);
5. lazy-singleton loads: each (engine, process) loads the model at most
   once, proven via the shim's SHIM_LOAD_LOG.

Prints one JSON line on success; any assertion failure exits nonzero.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> int:
    import spacy  # the shim — fail fast if the path plumbing is wrong
    import stanza

    assert "test-shim" in spacy.__version__ and "test-shim" in stanza.__version__

    from ner_spark import synth
    from ner_spark.extractors import model_stub as M
    from ner_spark.extractors.combined import combined_mentions
    from ner_spark.session import get_spark

    spark = get_spark("real_model_check", master="local[2]", shuffle_partitions=2)
    gaz = synth.synth_gazetteer(spark)
    pat = synth.synth_patterns(spark)

    texts = {
        "d1": "Marie Curie visite Paris avec Victor Hugo.",
        "d2": "La Sorbonne accueille Pierre Curie pres de Lyon.",
        "d3": "",  # zero-entity row: must contribute nothing, break nothing
        "d4": "Varsovie honore Marie Curie.",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_uid", "text"])

    # 1. the probes see the shims -> use_model=None routes to the real branch
    assert M._have_spacy() and M._have_stanza(), "shim probes did not flip"

    # ... on the default call every entry point makes: "La Sorbonne" is
    # not in the synth gazetteer (it holds "Sorbonne"), so only the shim
    # model can emit this spaCy row
    default = {
        (r["doc_uid"], r["NE"], r["label"])
        for r in combined_mentions(docs, gaz, pat).collect()
        if r["method"] == "spaCy"
    }
    assert ("d2", "La Sorbonne", "ORG") in default, sorted(default)

    out = {}
    for method in ("spaCy", "stanza"):
        real = combined_mentions(docs, gaz, pat, source_order=(method,))
        stub = combined_mentions(docs, gaz, pat, source_order=(method,), use_model=False)
        # 2. schema parity between the branches
        assert real.schema == stub.schema, (method, real.schema, stub.schema)
        rows = real.collect()
        assert rows, f"{method}: real branch emitted nothing"
        # 3. row accounting: mentions only for docs with entities; d3 empty
        assert {r["doc_uid"] for r in rows} == {"d1", "d2", "d4"}, rows
        # 4. offset contract, row-relative
        for r in rows:
            assert texts[r["doc_uid"]][r["start"] : r["end"]] == r["NE"], r
            assert r["method"] == method
        out[method] = sorted((r["doc_uid"], r["NE"], r["label"]) for r in rows)

    # the raw model labels flow through unmapped (parity with real engines)
    assert ("d1", "Marie Curie", "PER") in out["spaCy"]
    assert ("d1", "Paris", "LOC") in out["spaCy"]
    assert ("d2", "La Sorbonne", "ORG") in out["spaCy"]
    assert ("d2", "La Sorbonne", "PER") in out["stanza"]  # stanza shim: no ORG
    # and the two "models" disagree somewhere, like real engines
    assert out["spaCy"] != out["stanza"]

    # 5. lazy-singleton loads: every (engine, pid) line is unique — a worker
    # that loaded twice would show a duplicate
    log = os.environ["SHIM_LOAD_LOG"]
    with open(log, encoding="utf-8") as f:
        loads = [ln.strip() for ln in f if ln.strip()]
    assert loads and len(loads) == len(set(loads)), loads

    print(json.dumps({"ok": True, "mentions": out, "loads": loads}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
