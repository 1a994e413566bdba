"""spark-submit entry point: resumable KG-construction pipeline.

    spark-submit --py-files kg.zip run_pipeline.py \
        --n-docs 1000000 --out /tmp/kg_out --n-buckets 64

or plain ``python run_pipeline.py`` (builds its own local session). Stages
(SURVEY.md §7): normalize -> dedup -> consensus mentions -> triples ->
linking -> canonicalization -> graph materialize. Each per-doc stage
checkpoints per hash bucket; re-running after a kill skips completed
buckets (see the "skipped=" counts in the metrics line). The input corpus
is the deterministic synthetic interleaved-doc generator (same rows at any
parallelism), or ``--input`` parquet in the input_hint schema.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--n-docs", type=int, default=100_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--input", default=None, help="parquet dir in input_hint schema")
    p.add_argument("--out", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--writer-wait-sec", type=float, default=600.0,
        help="how long a stage waits for a live run that holds its writer "
        "lock (a killed run's lock is taken over at once)",
    )
    p.add_argument("--skip-canonical", action="store_true")
    p.add_argument(
        "--compact",
        action="store_true",
        help="after the run, rewrite every catalog table to one file per "
        "bucket (small-file maintenance; crash-safe staging swap)",
    )
    args = p.parse_args(argv)

    from ner_spark import synth
    from ner_spark.operators import consensus as C
    from ner_spark.operators.clean import dedup_docs, normalize_docs
    from ner_spark.operators.canonicalize import canonical_entities
    from ner_spark.operators.corrections import apply_corrections
    from ner_spark.operators.linking import link_mentions
    from ner_spark.operators.relations import extract_triples
    from ner_spark.plans.pipeline import KGPipeline
    from ner_spark.plans.runner import Runner
    from ner_spark.session import get_spark
    from ner_spark.sources.catalog import Catalog

    t_start = time.time()
    # FAIR job scheduling so the two independent DAG branches below (s4 and
    # s5->s6) interleave at task granularity instead of queueing FIFO
    spark = get_spark(
        "kg_pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    session_startup = time.time() - t_start

    if args.input:
        import glob as _glob
        import os as _os

        docs = spark.read.parquet(args.input)
        # fingerprint the file listing (name+size+mtime) so a changed input
        # invalidates downstream checkpoints (Iceberg analogue: snapshot id)
        import hashlib as _hashlib

        listing = sorted(
            (p, _os.path.getsize(p), int(_os.path.getmtime(p)))
            for p in _glob.glob(f"{args.input}/**/*.parquet", recursive=True)
        )
        digest = _hashlib.sha256(repr(listing).encode()).hexdigest()[:12]
        input_fp = f"path:{args.input}:{digest}"
    else:
        docs = synth.synth_docs(spark, args.n_docs, seed=args.seed)
        input_fp = f"synth:{args.n_docs}:{args.seed}"

    gaz = synth.synth_gazetteer(spark)
    pat = synth.synth_patterns(spark)
    combos = [c["slots"] for c in synth.TRUSTED_COMBOS]
    pipe = KGPipeline(gazetteer=gaz, patterns=pat, trusted_combos=combos)

    runner = Runner(
        spark=spark,
        catalog=Catalog(args.out),
        n_buckets=args.n_buckets,
        writer_wait_sec=args.writer_wait_sec,
    )

    s0, fp0 = runner.stage("s0_normalize", docs, normalize_docs, key="doc_id",
                           input_fingerprint=input_fp)
    s1, fp1 = runner.stage("s1_dedup", s0, dedup_docs, key="text",
                           input_fingerprint=fp0)

    stage_caches: list = []

    def consensus_transform(clean_part):
        clean_part = clean_part.cache()
        stage_caches.append(clean_part)
        fused = C.fuse_ranked(pipe.ranked_mentions(clean_part))
        voted = C.priority_vote(fused, pipe.labels_priority)
        promoted = C.promote_trusted(voted, pipe.trusted_combos)
        return promoted.join(
            clean_part.select("doc_uid", "files_id"), "doc_uid", "left"
        )

    s3, fp3 = runner.stage("s3_consensus", s1, consensus_transform, key="doc_uid",
                           input_fingerprint=fp1)
    # the stage output is materialized in the catalog now — release the
    # transform-local cache instead of pinning executor storage for the
    # rest of the job
    while stage_caches:
        stage_caches.pop().unpersist()

    def triples_transform(mentions_part):
        return extract_triples(mentions_part, s1)

    def link_transform(mentions_part):
        return link_mentions(mentions_part.drop("files_id"), gaz)

    # s4 and s5->s6 both depend only on s3: run the two DAG branches
    # concurrently (SparkContext job submission is thread-safe; the stages
    # write to disjoint catalog tables/manifests). Overlapping them hides
    # each branch's checkpoint-write barrier behind the other's compute —
    # the gain grows with core count, which is exactly what the N->4N
    # scaling criterion measures.
    from concurrent.futures import ThreadPoolExecutor

    def _branch_triples():
        return runner.stage("s4_triples", s3, triples_transform, key="doc_uid",
                            input_fingerprint=fp3)

    def _branch_link_canonical():
        s5_, fp5_ = runner.stage("s5_linked", s3, link_transform, key="doc_uid",
                                 input_fingerprint=fp3)
        if args.skip_canonical:
            return s5_, fp5_, None, None
        s6_, fp6_ = runner.global_stage(
            "s6_canonical", lambda: canonical_entities(s5_), input_fingerprint=fp5_
        )
        return s5_, fp5_, s6_, fp6_

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_t = pool.submit(_branch_triples)
        fut_l = pool.submit(_branch_link_canonical)
        s4, fp4 = fut_t.result()
        s5, fp5, s6, fp6 = fut_l.result()

    if not args.skip_canonical:
        # graph edges: triples with canonical subject ids where linkable
        def edges_transform(triples_part):
            from pyspark.sql import functions as F

            subj_link = s5.filter(F.col("entity_id").isNotNull()).select(
                F.col("doc_uid"), F.col("NE").alias("subj"),
                F.col("entity_id").alias("subj_entity"),
            ).dropDuplicates(["doc_uid", "subj"])
            canon = s6
            # no broadcast hints: subj_link/canon scale with the data — the
            # doc_uid join is co-located and AQE picks broadcast when small
            return (
                triples_part.join(subj_link, ["doc_uid", "subj"], "left")
                .join(
                    canon.withColumnRenamed("entity_id", "subj_entity"),
                    "subj_entity",
                    "left",
                )
                .select("subj", "pred", "obj", "doc_uid", "method",
                        "subj_entity", "canonical_id")
            )

        s7, fp7 = runner.stage("s7_edges", s4, edges_transform, key="doc_uid",
                               input_fingerprint=fp4 + fp6)

        # node table: one row per subject surface with its canonical id,
        # instance labels, relation-edge count, and document support.
        # Keyed (and re-bucketed) on `subj`, so every group is complete
        # within its bucket and the aggregation is bucket-resumable — the
        # map-side partial agg plus the bucket exchange is the whole cost.
        def nodes_transform(edges_part):
            from pyspark.sql import functions as F

            return edges_part.groupBy("subj").agg(
                F.coalesce(
                    F.max("canonical_id"),
                    F.max("subj_entity"),
                    F.concat(F.lit("surf:"), F.first("subj")),
                ).alias("node_id"),
                F.concat_ws(
                    "|",
                    F.array_sort(
                        F.collect_set(
                            F.when(F.col("pred") == "instance_of", F.col("obj"))
                        )
                    ),
                ).alias("labels"),
                F.sum(
                    (F.col("pred") != "instance_of").cast("long")
                ).alias("n_rel_edges"),
                F.countDistinct("doc_uid").alias("n_docs"),
            )

        runner.stage("s8_nodes", s7, nodes_transform, key="subj",
                     input_fingerprint=fp7)

    # input size from the s0 manifest (avoids recomputing the input scan)
    n_docs = sum(
        r["rows"]
        for r in runner.catalog.manifest_rows("s0_normalize")
        if r["fingerprint"] == fp0
    )
    compaction = None
    if args.compact:
        import os as _os

        compaction = {}
        for table in sorted(
            d
            for d in _os.listdir(args.out)
            if _os.path.isdir(_os.path.join(args.out, d))
            and not d.endswith(".compact")  # leftover staging from a crash
        ):
            compaction[table] = runner.catalog.compact_table(spark, table)

    wall = time.time() - t_start
    metrics = {
        "n_docs": n_docs,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        # fixed JVM/session cost, included in wall_sec; reported separately
        # so scaling analyses can decompose it (a long-lived cluster session
        # pays it once, not per job)
        "session_startup_sec": round(session_startup, 2),
        # sort: concurrent branches append in completion order
        "stages": sorted(runner.metrics_json(), key=lambda r: r["stage"]),
    }
    if compaction is not None:
        metrics["compaction"] = compaction
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
