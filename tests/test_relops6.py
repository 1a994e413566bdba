"""Invariant tests for the batch-6 operators: AllPairs prefix filtering
(losslessness vs brute force), CUSUM window factorization (vs the literal
sequential recurrence), and common-neighbor link prediction (vs a python
re-derivation on the same edge list)."""

from __future__ import annotations

import itertools

from pyspark.sql import Row
from pyspark.sql import functions as F

import pytest

from ner_spark.operators.dedup import prefix_filter_pairs
from ner_spark.operators.graph import link_prediction_cn


@pytest.fixture(scope="module")
def corpus(spark):
    """Flat text docs with planted near-duplicates (incl. a hot shingle
    shared by every doc, so the rare-first prefix ordering is exercised)."""
    base = [
        "alpha beta gamma the quick brown fox jumps over the lazy dog by the river",
        "alpha beta gamma spark engines shuffle partitions across the cluster racks",
        "alpha beta gamma customers place orders for parts from trusted suppliers",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        # near-dup: one mid-document word edited
        toks = t.split()
        toks[7] = toks[7] + "x"
        rows.append((i * 10 + 1, " ".join(toks)))
    rows.append((98, "alpha beta gamma"))  # shorter than one shingle window
    rows.append((99, "singleton with entirely unique vocabulary tokens here"))
    rows.append((100, base[0]))  # exact dup of doc 0
    return spark.createDataFrame(rows, ["doc_id", "text"])


# ---------------------------------------------------------------------------
# prefix_filter_pairs: lossless vs brute-force all-pairs Jaccard
# ---------------------------------------------------------------------------


def _shingle_set(text: str, n: int = 3) -> frozenset[str]:
    toks = text.split()
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def _brute_pairs(rows, pct: int):
    sets = {doc: _shingle_set(t) for doc, t in rows if t and t.strip()}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a]) + len(sets[b]) - inter
        if inter * 100 >= uni * pct:
            out[(a, b)] = (len(sets[a]), len(sets[b]), inter)
    return out


def test_prefix_filter_equals_brute_force(spark, corpus):
    """The headline claim — prefix filtering drops NO qualifying pair —
    checked against literal all-pairs set Jaccard over the synth corpus
    (which contains planted near-duplicates)."""
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    expected = _brute_pairs(rows, 70)
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_a"], r["n_b"], r["inter"])
        for r in prefix_filter_pairs(corpus, threshold_pct=70).collect()
    }
    assert got == expected
    assert expected, "fixture must contain at least one qualifying pair"


def test_prefix_filter_threshold_monotone(spark, corpus):
    """Raising the threshold can only shrink the output, and every
    reported pair respects its own integer threshold test."""
    lo = prefix_filter_pairs(corpus, threshold_pct=50).collect()
    hi = prefix_filter_pairs(corpus, threshold_pct=90).collect()
    lo_keys = {(r["doc_a"], r["doc_b"]) for r in lo}
    hi_keys = {(r["doc_a"], r["doc_b"]) for r in hi}
    assert hi_keys <= lo_keys
    for r in lo:
        assert r["inter"] * 100 >= (r["n_a"] + r["n_b"] - r["inter"]) * 50


def test_prefix_filter_join_builds_lazily(spark):
    """Building the exact AllPairs registry query submits no Spark job
    beyond the ones reading its input table needs: no pre-flight pass
    runs before the caller's action."""
    import time

    from ner_spark.operators.scratch import release_scratch
    from ner_spark.queries import _t
    from ner_spark.queries_relops6 import dedup_prefix_filter_join

    sf = "/root/testdata/sf0.001"
    sc = spark.sparkContext

    def jobs_for(group: str, build) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            build()
            # sentinel: events reach the status tracker in order, so once
            # this job is visible every earlier job of the group is too
            spark.range(1).collect()
            ids: list[int] = []
            deadline = time.time() + 30
            while not ids and time.time() < deadline:
                time.sleep(0.05)
                ids = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return ids

    try:
        base = jobs_for("pf_lazy_input", lambda: _t(spark, sf, "documents"))
        built = jobs_for("pf_lazy_query", lambda: dedup_prefix_filter_join(spark, sf))
    finally:
        release_scratch()
    assert len(built) <= len(base), (built, base)


# ---------------------------------------------------------------------------
# CUSUM: prefix-scan factorization == literal sequential recurrence
# ---------------------------------------------------------------------------


def _cusum_seq(values, k):
    s, out = 0, []
    for v in values:
        s = max(0, s + (v - k))
        out.append(s)
    return out


def test_cusum_matches_sequential_recurrence(spark):
    """s_i = p_i - min(0, min prefix p) must equal the literal
    max(0, s+d) fold for arbitrary sign patterns, including immediate
    resets and long positive runs."""
    k = 10
    series = {
        1: [5, 25, 3, 3, 40, 1, 1, 1, 30, 30],
        2: [50, 50, 50],
        3: [1, 1, 1, 1],
        4: [10, 10, 10],  # exactly at the reference: stays 0
    }
    rows = [
        Row(event_id=100 * u + i, user_id=u, ts=float(i), value=float(v))
        for u, vs in series.items()
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = F.sum(F.col("value") - k).over(w)
    got = (
        df.withColumn("p", p)
        .select(
            "user_id",
            "event_id",
            (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).alias("s"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["user_id"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r["s"])
    for u, vs in series.items():
        assert by_user[u] == _cusum_seq(vs, k), f"user {u}"


# ---------------------------------------------------------------------------
# link_prediction_cn: python re-derivation on a hand graph
# ---------------------------------------------------------------------------


def test_link_prediction_cn_hand_graph(spark):
    """Square with one diagonal + pendant: check the exact (cn, deg,
    jaccard) table, that adjacent pairs never appear, and that
    no-common-neighbor pairs never appear."""
    #   a-b, b-c, c-d, d-a, a-c (diagonal), d-e (pendant)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"), ("d", "e")],
        ["src", "dst"],
    )
    got = {
        (r["node_a"], r["node_b"]): (r["cn"], r["deg_a"], r["deg_b"], r["nbr_jaccard"])
    for r in link_prediction_cn(edges).collect()}
    # adjacency: a:{b,c,d} b:{a,c} c:{a,b,d} d:{a,c,e} e:{d}
    # non-adjacent pairs with common neighbors:
    #   (b,d): common {a,c} cn=2, deg 2+3 -> j=2/3
    #   (a,e): common {d}  cn=1, deg 3+1 -> j=1/3
    #   (c,e): common {d}  cn=1, deg 3+1 -> j=1/3
    #   (b,e): none -> absent
    assert set(got) == {("b", "d"), ("a", "e"), ("c", "e")}
    assert got[("b", "d")] == (2, 2, 3, round(2 / 3, 6))
    assert got[("a", "e")] == (1, 3, 1, round(1 / 3, 6))
    assert got[("c", "e")] == (1, 3, 1, round(1 / 3, 6))


def test_link_prediction_undirected_input_invariance(spark):
    """Reversed/duplicated edge rows must not change the scores (the
    operator canonicalizes and dedups first)."""
    e1 = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    e2 = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("b", "c"), ("d", "c")], ["src", "dst"]
    )
    k = lambda df: sorted(map(tuple, link_prediction_cn(df).collect()))
    assert k(e1) == k(e2)
