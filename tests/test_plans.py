"""Physical-plan shape assertions (.explain) — the 100 TB design claims.

These tests pin the *plan*, not just the results: the consensus chain must
cost exactly one exchange, linking must broadcast the dictionary, and scans
must prune columns and push filters. A regression here is a performance bug
even when every value is still correct.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from ner_spark import schemas, synth
from ner_spark.operators import consensus as C
from ner_spark.operators.linking import link_mentions


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_exchanges(df) -> int:
    # "simple" mode prints each operator exactly once ("formatted" lists
    # every node twice: once in the tree, once in the detail section)
    return plan_of(df, "simple").count("Exchange")


def _ranked_mentions(spark):
    rows = [
        ("d1", "Curie", "PER", 0, 5, "casEN", None, None, 0),
        ("d1", "Curie", "PER", 0, 5, "spaCy", None, None, 1),
        ("d2", "Paris", "LOC", 3, 8, "stanza", None, None, 2),
    ]
    cols = ["doc_uid", "NE", "label", "start", "end", "method", "grfs", "context", "_rank"]
    df = spark.createDataFrame(rows, schema="doc_uid string, NE string, label string, start int, end int, method string, grfs array<string>, context string, _rank int")
    return df.toDF(*cols)


def test_consensus_chain_costs_exactly_one_exchange(spark):
    """fuse (repartition doc_uid) -> aggregate -> priority window -> promote:
    the aggregation keys and the window partition keys are supersets of
    doc_uid, so the single explicit repartition serves the whole chain."""
    voted = C.vote(_ranked_mentions(spark), [["a", "b", "c"]])
    assert n_exchanges(voted) == 1, plan_of(voted, "simple")


def test_priority_vote_adds_no_exchange_after_fuse(spark):
    fused = C.fuse_ranked(_ranked_mentions(spark))
    assert n_exchanges(fused) == 1
    assert n_exchanges(C.priority_vote(fused)) == 1


def test_linking_is_broadcast_no_shuffle_of_mentions(spark):
    gaz = spark.createDataFrame(
        [("E1", "Curie", "curie", "PER", 0.9)], schema=schemas.GAZETTEER
    )
    m = spark.createDataFrame(
        [("d1", "Curie", "PER", 0, 5, "casEN")],
        ["doc_uid", "NE", "label", "start", "end", "method"],
    )
    plan = plan_of(link_mentions(m, gaz))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_parquet_scan_prunes_columns(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.select("doc_id", F.length("text").alias("n"))
    plan = plan_of(q)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    assert "lang" not in scan_lines[0] and "source" not in scan_lines[0], scan_lines[0]


def test_parquet_filter_pushdown(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.filter(F.col("doc_id") < 100).select("doc_id")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan, plan


def test_extraction_is_narrow_over_clean_docs(spark, gazetteer, patterns):
    """Extraction (pandas UDF + explode) adds no exchange on top of the
    clean-docs aggregation."""
    from ner_spark.extractors.combined import combined_mentions
    from ner_spark.operators.clean import clean

    docs = synth.synth_docs(spark, 50, seed=42)
    cd = clean(docs)
    base_exchanges = n_exchanges(cd)
    assert n_exchanges(combined_mentions(cd, gazetteer, patterns)) == base_exchanges


def test_vote_and_promote_stay_jvm_side(spark):
    """The whole consensus chain after extraction is pure Catalyst: window +
    hash aggregate, zero Python eval nodes (the reference's row-apply
    lambdas, SURVEY.md §2 U5, all eliminated)."""
    voted = C.vote(_ranked_mentions(spark), [["a", "b", "c"]])
    plan = plan_of(voted, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # fuse aggregates via declarative min-slots; the struct-valued
    # first-by-rank mins make it a SortAggregate (HashAggregate cannot
    # buffer struct/array types) — either aggregate node is JVM-side
    assert "Window" in plan and ("HashAggregate" in plan or "SortAggregate" in plan)
    # the promote combo compiles to null-safe comparisons, not a UDF
    assert "<=>" in plan

def test_order_index_has_no_global_window(spark, tmp_path):
    """order_mentions_indexed must number rows WITHOUT a single-reducer
    ``row_number() OVER (ORDER BY ...)``: the final plan may contain no
    Window node at all, and the order index must match a local sort."""
    rows = [
        ("d2", "Paris", "LOC", 3, 8, "casEN", ["doc2"]),
        ("d1", "Curie", "PER", 0, 5, "casEN", ["doc1"]),
        ("d1", "Curie", "LOC", 7, 12, "spaCy", ["doc1"]),
        ("d3", "Lyon", "LOC", 1, 5, "stanza", ["doc3"]),
    ]
    m = spark.createDataFrame(
        rows, "doc_uid string, NE string, label string, start int, end int, method string, files_id array<string>"
    )
    out = C.order_mentions_indexed(m, scratch_dir=str(tmp_path / "idx"))
    plan = plan_of(out, "simple")
    assert "Window" not in plan, plan
    got = {
        (r["doc_uid"], r["start"]): r["order_idx"]
        for r in out.collect()
    }
    expect = sorted(rows, key=lambda r: (r[6][0], r[3], r[4], r[1], r[2], r[5]))
    for i, r in enumerate(expect):
        assert got[(r[0], r[3])] == i + 1


def test_ivf_vector_side_never_shuffles(spark):
    """IVF topk: the probed query fan-out broadcasts; the (big) vector
    table must reach the candidate join without an Exchange on `cell` —
    at 1e9 vectors a 16-value shuffle key would serialize the scan."""
    from ner_spark.operators import similarity as S

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(50)],
        ["vec_id", "embedding"],
    )
    cents = [[0.0, 0.0], [3.0, 1.0], [6.0, 2.0]]
    out = S.ivf_topk(vecs, vecs.limit(5), cents, k=3, nprobe=2)
    plan = plan_of(out, "simple")
    assert "BroadcastHashJoin" in plan, plan
    # exchanges: the query-side window + broadcast distribution + the
    # final per-query ranking window — never a hash repartition on cell
    assert "hashpartitioning(cell" not in plan, plan


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The north_rule names AQE skew-join splitting as the guard for
    residual skew on the linking join. Prove the session config actually
    engages it: a sort-merge join with one hot key gets its oversized
    partition split at runtime (``skew=true`` in the final adaptive plan).
    Thresholds are lowered so local-scale data exhibits 100 TB-class skew;
    they are restored afterwards."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        hot = spark.range(120000).select(
            F.lit("hot").alias("k"), F.lpad(F.col("id").cast("string"), 200, "x").alias("pay")
        )
        cold = spark.range(3000).select(
            F.concat(F.lit("c"), (F.col("id") % 300).cast("string")).alias("k"),
            F.lit("y").alias("pay"),
        )
        left = hot.unionByName(cold)
        right = spark.createDataFrame(
            [("hot", 1000)] + [(f"c{i}", i) for i in range(300)],
            "k string, attr int",
        )
        out = left.join(right, "k").groupBy("attr").count()
        assert len(out.collect()) == 301  # collect() drives THIS plan's
        # QueryExecution (a write clones it, leaving isFinalPlan=false here)
        final_plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_bucketed_catalog(spark, tmp_path):
    """Joining a partition-keyed fact against a filtered dim must prune
    fact partitions at RUNTIME (dynamic partition pruning) — at 100 TB the
    difference between scanning 3 buckets and scanning all of them. The
    catalog's tables are partitioned by bucket, so DPP applies to every
    bucket-keyed stage join."""
    from pyspark.sql import functions as F

    fact = spark.range(20000).select(
        (F.col("id") % 16).cast("int").alias("bucket"),
        F.col("id").alias("v"),
    )
    fact.write.partitionBy("bucket").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.range(16).select(
        F.col("id").cast("int").alias("bucket"),
        (F.col("id") % 4).alias("grp"),
    )
    out = f.join(dim.filter(F.col("grp") == 0), "bucket").groupBy("bucket").count()
    plan = plan_of(out, "formatted")
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    assert len(out.collect()) == 4
