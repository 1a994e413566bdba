"""S6: connected components (large-star/small-star) + salted self-join."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ner_spark.operators.canonicalize import (
    connected_components,
    salted_self_join,
)


def _cc_oracle(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical representative = min node id in component
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for nodes in comp.values():
        m = min(nodes)
        for n in nodes:
            out[n] = m
    return out


def _run_cc(spark, edges, threshold=100_000):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=threshold).collect()
    }
    return got


def test_cc_two_components_and_chain(spark):
    edges = [("b", "a"), ("c", "b"), ("e", "d")]  # chain a-b-c, pair d-e
    want = {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
    assert _run_cc(spark, edges) == want  # driver fast path
    assert _run_cc(spark, edges, threshold=0) == want  # distributed stars


def test_cc_matches_union_find_on_random_graph(spark):
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = _cc_oracle(edges)
    # both execution paths must agree with the union-find oracle
    assert _run_cc(spark, edges) == want
    assert _run_cc(spark, edges, threshold=0) == want


def test_cc_threshold_boundary_picks_path_from_one_bounded_collect(spark, monkeypatch):
    """The bounded collect decides the path: exactly ``threshold`` distinct
    edges resolve in the driver (no distributed convergence probe),
    ``threshold + 1`` take the star rounds, and both give the same answer."""
    from ner_spark.operators import canonicalize

    edges = [(f"a{i}", f"a{i + 1}") for i in range(9)] + [("b1", "b0"), ("b2", "b1")]
    want = _cc_oracle(edges)
    probes = []
    stats = canonicalize._edge_stats
    monkeypatch.setattr(canonicalize, "_edge_stats", lambda e: probes.append(1) or stats(e))
    n = len(edges)  # 11 distinct undirected edges
    assert _run_cc(spark, edges, threshold=n) == want
    assert probes == []
    assert _run_cc(spark, edges, threshold=n - 1) == want
    assert probes


def test_cc_idempotent(spark):
    edges = [("b", "a"), ("c", "b"), ("z", "c"), ("y", "x")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    # distributed path (threshold=0): feeding the star forest back in
    # reproduces the same assignment
    cc1 = connected_components(df, small_graph_threshold=0)
    cc2 = connected_components(
        cc1.select(F.col("node").alias("src"), F.col("component").alias("dst")),
        small_graph_threshold=0,
    )
    assert sorted(map(tuple, cc1.collect())) == sorted(map(tuple, cc2.collect()))


def test_salted_self_join_covers_all_pairs(spark):
    rows = [("k1", f"v{i}") for i in range(6)] + [("k2", "w0"), ("k2", "w1")]
    df = spark.createDataFrame(rows, ["block", "val"])
    pairs = salted_self_join(df, "block", n_salt=4).collect()
    got = {(r["block"], *sorted([r["val_l"], r["val_r"]])) for r in pairs}
    want = set()
    for k, n in (("k1", 6), ("k2", 2)):
        vals = [f"v{i}" for i in range(6)] if k == "k1" else ["w0", "w1"]
        for i in range(n):
            for j in range(i + 1, n):
                want.add((k, *sorted([vals[i], vals[j]])))
    assert got == want


def _run_incremental(spark, old_edges, delta_edges):
    from ner_spark.operators.canonicalize import incremental_components

    prev = connected_components(spark.createDataFrame(old_edges, ["src", "dst"]))
    delta = spark.createDataFrame(delta_edges, "src string, dst string")
    return {
        r["node"]: r["component"]
        for r in incremental_components(prev, delta).collect()
    }


def test_incremental_merges_old_components_via_new_chain(spark):
    old = [("b", "a"), ("d", "c"), ("y", "x")]  # components {a,b} {c,d} {x,y}
    # new node chain n1-n2 bridges components a* and c*; x* untouched;
    # plus a brand-new isolated pair (p, q)
    delta = [("b", "n1"), ("n1", "n2"), ("n2", "d"), ("q", "p")]
    got = _run_incremental(spark, old, delta)
    want = _cc_oracle(old + delta)
    assert got == want
    assert got["d"] == "a" and got["y"] == "x" and got["q"] == "p"


def test_incremental_empty_delta_is_identity(spark):
    old = [("b", "a"), ("d", "c")]
    got = _run_incremental(spark, old, [])
    assert got == _cc_oracle(old)


def test_incremental_matches_full_recompute_on_random_graph(spark):
    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(40)]
    old = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(30)
    ]
    old = [(a, b) for a, b in old if a != b]
    new_nodes = [f"m{i:02d}" for i in range(10)]
    delta = [
        (rng.choice(nodes + new_nodes), rng.choice(nodes + new_nodes))
        for _ in range(20)
    ]
    delta = [(a, b) for a, b in delta if a != b]
    got = _run_incremental(spark, old, delta)
    want = _cc_oracle(old + delta)
    # incremental covers every node of the union graph exactly once
    assert got == want


def test_salted_self_join_id_col_pairs_exact_duplicates(spark):
    """Two rows with identical payloads must still pair when a row-unique
    id_col is supplied (payload-only uids collapse exact duplicates)."""
    rows = [("k", 1, "same"), ("k", 2, "same"), ("k", 3, "other")]
    df = spark.createDataFrame(rows, ["block", "rid", "val"])
    pairs = salted_self_join(
        df, "block", n_salt=4, payload_cols=["rid", "val"], id_col="rid"
    ).collect()
    got = {tuple(sorted([r["rid_l"], r["rid_r"]])) for r in pairs}
    assert got == {(1, 2), (1, 3), (2, 3)}  # includes the exact-dup pair


def test_salted_self_join_null_vs_empty_payload_distinct(spark):
    """(x, NULL) and (x, '') are different rows and must pair, not collide
    into one uid (concat_ws skips nulls)."""
    rows = [("k", "x", None), ("k", "x", "")]
    df = spark.createDataFrame(rows, "block string, a string, b string")
    pairs = salted_self_join(df, "block", n_salt=2, payload_cols=["a", "b"]).collect()
    assert len(pairs) == 1


def test_cc_raises_on_exhausted_iterations(spark):
    """An exhausted star-round budget must fail loudly, never return a
    silently-inconsistent labeling."""
    import pytest as _pytest

    e = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=0, small_graph_threshold=0)


def test_skew_aware_self_join_equals_plain_join(spark):
    """Adaptive salting must be invisible in the result: on a fixture with
    one hot block (freq > threshold) and many cold ones, the pair set
    equals the plain self-join's, exactly."""
    from ner_spark.operators.canonicalize import skew_aware_self_join

    rows = [("hot", f"h{i}") for i in range(30)] + [
        (f"cold{j}", f"c{j}_{i}") for j in range(10) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["block", "val"])
    got = {
        (r["block"], r["val_l"], r["val_r"])
        for r in skew_aware_self_join(df, "block", hot_threshold=10, n_salt=4).collect()
    }
    expected = set()
    from collections import defaultdict

    by_block = defaultdict(list)
    for b, v in rows:
        by_block[b].append(v)
    for b, vs in by_block.items():
        for i in range(len(vs)):
            for j in range(len(vs)):
                if vs[i] < vs[j]:
                    expected.add((b, vs[i], vs[j]))
    assert got == expected


def test_skew_aware_self_join_routes_hot_keys_through_salt(spark):
    """Regression guard (round-4 directive 5): a key whose frequency
    exceeds hot_threshold MUST take the salted branch; cold keys must not
    pay the n_salt replication."""
    from ner_spark.operators.canonicalize import skew_aware_self_join

    rows = [("hot", f"h{i}") for i in range(20)] + [("cold", f"c{i}") for i in range(4)]
    df = spark.createDataFrame(rows, ["block", "val"])
    tagged = skew_aware_self_join(
        df, "block", hot_threshold=10, n_salt=4, _tag_branch=True
    ).collect()
    hot_pairs = [r for r in tagged if r["block"] == "hot"]
    cold_pairs = [r for r in tagged if r["block"] == "cold"]
    assert hot_pairs and all(r["via_salted"] for r in hot_pairs)
    assert cold_pairs and not any(r["via_salted"] for r in cold_pairs)
    assert len(hot_pairs) == 20 * 19 // 2
    assert len(cold_pairs) == 4 * 3 // 2
    # and the physical plan's salted explode sits on the hot branch only:
    # the cold branch must stay a plain SortMergeJoin/ShuffledHashJoin
    plan = skew_aware_self_join(df, "block", hot_threshold=10, n_salt=4)._jdf.queryExecution().executedPlan().toString()
    assert "explode" in plan.lower()


def test_skew_aware_self_join_scans_source_once(spark, tmp_path):
    """Round-5 directive 2: the operator persists its input, so the
    underlying source is scanned ONCE — the frequency aggregate
    materializes the cache and both branch probes (left_anti / left_semi)
    read the in-memory copy. Pinned on a parquet source: the physical plan
    of the result must contain zero direct parquet scans (every leaf is an
    InMemoryTableScan over the one cached relation)."""
    from ner_spark.operators.canonicalize import skew_aware_self_join
    from ner_spark.operators.scratch import release_scratch

    rows = [("hot", f"h{i}") for i in range(20)] + [("cold", f"c{i}") for i in range(4)]
    src_path = str(tmp_path / "skew_src.parquet")
    spark.createDataFrame(rows, ["block", "val"]).write.parquet(src_path)
    df = spark.read.parquet(src_path)
    out = skew_aware_self_join(df, "block", hot_threshold=10, n_salt=4)
    try:
        assert len(out.collect()) == 20 * 19 // 2 + 4 * 3 // 2
        plan = out._jdf.queryExecution().executedPlan().toString()
        # every leaf read is an InMemoryTableScan; the only FileScan
        # occurrences are the cached plan each InMemoryRelation *prints*
        # (tree rendering), never a live scan — so the counts must agree
        n_mem_scan = plan.count("InMemoryTableScan")
        n_mem_rel = plan.count("InMemoryRelation")
        n_file = plan.count("FileScan parquet")
        assert n_mem_scan > 0
        assert n_file == n_mem_rel == n_mem_scan, (n_file, n_mem_rel, n_mem_scan)
    finally:
        release_scratch()
