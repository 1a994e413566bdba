"""Corpus-curation operators: cluster survivors, contamination, sampling."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


BASE_A = "the quick brown fox jumps over the lazy dog again and again " * 3
BASE_B = "completely different material about spark shuffles and joins " * 3


def test_cluster_survivors_known_clusters(spark):
    # docs 1,2,3 are near-identical (cluster, survivor=1); 10,11 too
    # (survivor=10); 20 is unique and must not appear in any cluster
    rows = [
        (1, BASE_A + "tail one"),
        (2, BASE_A + "tail two"),
        (3, BASE_A + "tail three"),
        (10, BASE_B + "ending x"),
        (11, BASE_B + "ending y"),
        (20, "a short singleton document with nothing shared at all here"),
    ]
    from ner_spark.operators.canonicalize import connected_components
    from ner_spark.operators.dedup import minhash_verified_pairs

    pairs = minhash_verified_pairs(_docs(spark, rows), threshold=0.3, k=16, bands=4)
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = {r["node"]: r["component"] for r in cc.collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert 20 not in comp


def test_contamination_detects_probe_ngrams(spark):
    # target doc 5 contains probe doc 97*1+3=100's exact phrase; doc 6 does not
    probe_text = "secret benchmark question about turing machines and tapes"
    rows = [
        (100, probe_text),  # 100 % 97 == 3 -> probe set
        (5, "prefix words then secret benchmark question appears here today"),
        (6, "entirely unrelated content with no overlap whatsoever present"),
    ]
    from ner_spark.operators.dedup import shingled

    docs = _docs(spark, rows)

    probe_sh = (
        shingled(docs.filter(F.col("doc_id") % 97 == 3))
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    posting = shingled(docs.filter(F.col("doc_id") % 97 != 3)).select(
        "doc", F.explode("sh").alias("shingle")
    )
    hits = (
        posting.join(F.broadcast(probe_sh), "shingle")
        .groupBy("doc")
        .count()
        .collect()
    )
    by_doc = {r["doc"]: r["count"] for r in hits}
    # "secret benchmark question" is the one shared 3-gram
    assert by_doc.get(5) == 1
    assert 6 not in by_doc


def test_stratified_sample_replays_md5_decision(spark):
    rows = [(i, "x" * (50 if i % 3 == 0 else (300 if i % 3 == 1 else 450)))
            for i in range(60)]
    from ner_spark.queries_corpus import _STRATUM_RATES

    # the registered callable reads parquet; replicate its expression here
    stratum = (
        F.when(F.length("text") < 250, F.lit("short"))
        .when(F.length("text") < 380, F.lit("mid"))
        .otherwise(F.lit("long"))
    )
    from ner_spark.operators.dedup import md5_60

    bucket = F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(1000))
    rate = (
        F.when(F.col("stratum") == "short", F.lit(_STRATUM_RATES["short"]))
        .when(F.col("stratum") == "mid", F.lit(_STRATUM_RATES["mid"]))
        .otherwise(F.lit(_STRATUM_RATES["long"]))
    )
    out = (
        _docs(spark, rows)
        .select("doc_id", stratum.alias("stratum"), bucket.cast("long").alias("bucket"))
        .filter(F.col("bucket") < rate)
        .collect()
    )
    got = {(r["doc_id"], r["stratum"], r["bucket"]) for r in out}

    def py_bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 1000

    expected = set()
    for i, text in rows:
        s = "short" if len(text) < 250 else ("mid" if len(text) < 380 else "long")
        b = py_bucket(i)
        if b < _STRATUM_RATES[s]:
            expected.add((i, s, b))
    assert got == expected
    # all strata represented and 'long' kept in full
    assert {s for _, s, _ in expected} == {"short", "mid", "long"}
    assert sum(1 for i, t in rows if len(t) >= 380) == sum(
        1 for _, s, _ in got if s == "long"
    )


def test_substring_spans_match_bruteforce(spark):
    from ner_spark.queries_corpus import _SPAN_K, dedup_substring_spans

    sf = "/root/testdata/sf0.001"
    docs = [(r["doc_id"], r["text"]) for r in
            spark.read.parquet(f"{sf}/documents.parquet").collect()
            if r["text"] is not None]
    occ = {}
    for doc_id, text in docs:
        toks = text.strip().split()
        for p in range(len(toks) - _SPAN_K + 1):
            occ.setdefault(" ".join(toks[p:p + _SPAN_K]), []).append(
                (doc_id, p + 1)
            )
    want = {
        sh: (len(v), len({d for d, _ in v}), min(v))
        for sh, v in occ.items() if len({d for d, _ in v}) >= 2
    }
    got = dedup_substring_spans(spark, sf).collect()
    assert len(got) == len(want)
    by_first = {(r["first_doc_id"], r["first_pos"]): (r["n_occ"], r["n_docs"])
                for r in got}
    for sh, (n_occ, n_docs, first) in want.items():
        assert by_first[first] == (n_occ, n_docs), sh


def test_mix_temperature_weights_math(spark):
    from ner_spark.queries_corpus import mix_temperature_weights
    import math

    sf = "/root/testdata/sf0.001"
    rows = mix_temperature_weights(spark, sf).collect()
    assert rows
    total_micro = sum(r["w_micro"] for r in rows)
    for r in rows:
        n = float(r["n_tokens"])
        # alpha = 0.75 via two correctly-rounded sqrts
        w = math.sqrt(n * math.sqrt(n))
        assert r["w_micro"] == math.floor(w * 1_000_000)
        assert r["target_tokens"] == math.floor(
            (r["w_micro"] / total_micro) * 1_000_000
        )
    # floor allocation never exceeds the budget
    assert sum(r["target_tokens"] for r in rows) <= 1_000_000
    # temperature flattening: a source with more tokens gets a LOWER
    # sampling multiple (target/n) than a smaller source
    rs = sorted(rows, key=lambda r: r["n_tokens"])
    if rs[0]["n_tokens"] < rs[-1]["n_tokens"]:
        assert (rs[0]["target_tokens"] / rs[0]["n_tokens"]
                > rs[-1]["target_tokens"] / rs[-1]["n_tokens"])


def test_lm_surprisal_matches_python(spark):
    import math
    from collections import Counter

    from ner_spark.queries_corpus import doc_lm_surprisal

    sf = "/root/testdata/sf0.001"
    docs = [(r["doc_id"], r["text"]) for r in
            spark.read.parquet(f"{sf}/documents.parquet").collect()
            if r["text"] is not None]
    freq = Counter(t for _, x in docs for t in x.strip().lower().split())
    total = float(sum(freq.values()))
    got = {r["doc_id"]: (r["n_tokens"], r["surprisal"])
           for r in doc_lm_surprisal(spark, sf).collect()}
    assert len(got) == len(docs)
    for doc_id, text in docs:
        toks = text.strip().lower().split()
        want = round(sum(math.log(total / freq[t]) for t in toks) / len(toks), 4)
        n, s = got[doc_id]
        assert n == len(toks)
        assert abs(s - want) <= 1e-4, (doc_id, s, want)
    # rare-token docs score strictly higher than common-token docs
    common = [t for t, _ in freq.most_common(3)]
    rare = [t for t, c in freq.items() if c == min(freq.values())][:3]
    avg_c = sum(math.log(total / freq[t]) for t in common) / len(common)
    avg_r = sum(math.log(total / freq[t]) for t in rare) / len(rare)
    assert avg_r > avg_c
