"""The driver-contract harness's query-subset mode, through its CLI.

``tools/driver_sim.py <sf_dir> q1,q2`` checks only the named registry
queries against their DuckDB oracles. A misspelt name must fail loudly
(before any Spark session starts) instead of being skipped into a green
``0 OK, 0 FAIL`` run. The harness regenerates the data-dependent
oracles for the sf_dir it compares, through ``register_ivf_oracle``.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


def _driver_sim(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "tools/driver_sim.py", SF, *args],
        cwd=str(REPO),
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_unknown_query_name_is_rejected():
    proc = _driver_sim("no_such_query")
    assert proc.returncode != 0, proc.stdout
    assert "no_such_query" in proc.stdout + proc.stderr


def _assert_subset_ok(names: str) -> None:
    proc = _driver_sim(names)
    assert proc.returncode == 0, f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-3000:]}"
    assert f"== {len(names.split(','))} OK, 0 FAIL" in proc.stdout, proc.stdout


def test_named_subset_runs_only_those_queries():
    _assert_subset_ok("dedup_exact_groups,tpch_q1")


def test_named_subset_exact_overlap_verifier_queries():
    """Every registry query built on the shared exact-overlap verifier
    (``dedup._pair_overlaps``), hash-checked against oracles that keep
    the independent posting-join formulation."""
    _assert_subset_ok(
        "dedup_minhash_verified,dedup_cluster_survivors,dedup_prefix_filter_join,"
        "dedup_incremental_minhash,dedup_blocking_eval,curation_flagship"
    )


def test_named_subset_embedding_family_queries():
    """The embedding family (every top-k operator on the shared
    exact-cosine verify and per-query ranking, plus the k-means/SemDeDup
    queries on the shared IVF training sample), hash-checked against
    oracles generated for this sf_dir."""
    _assert_subset_ok(
        "ann_topk_bruteforce,ann_topk_lsh,ann_topk_ivf,ann_topk_ivfpq,"
        "ann_recall_eval,embedding_near_dup,embedding_kmeans_stats,"
        "dedup_semantic_prune"
    )


def test_named_subset_near_dup_family_queries():
    """The rest of the near-duplicate family — shingle, MinHash, SimHash,
    winnowing, segment, sorted-neighborhood and edit-distance operators and
    the queries built on ``shingled``/``tokens`` — hash-checked against
    their oracles."""
    _assert_subset_ok(
        "dedup_ngram_jaccard,dedup_minhash_lsh,dedup_simhash,dedup_containment,"
        "dedup_winnowing,dedup_segment_firstseen,dedup_sorted_neighborhood,"
        "dedup_snm_multipass,dedup_edit_distance,contamination_check,"
        "corpus_ngram_novelty,doc_template_score,sketch_hll_distinct"
    )


def test_named_subset_kg_chain_queries():
    """Every registry query that runs an operator of the KG construction
    chain — trusted promotion (both variants), the W2 ordering, the legacy
    conflict promotion, entity linking, the runner's manifests, relation
    and flagship triples and the graph tables built on them —
    hash-checked against their oracles."""
    _assert_subset_ok(
        "kg_promote_trusted,kg_promote_trusted_legacy,kg_order_mentions,"
        "kg_legacy_conflict,kg_entity_linking,kg_checkpoint_manifest,"
        "kg_flagship_triples,kg_relation_triples,kg_triple_support,"
        "kg_two_hop_paths,kg_entity_degree,kg_linked_triples,"
        "kg_canonical_edges,kg_node_table,kg_media_edges"
    )


def test_named_subset_snapshot_and_media_queries():
    """Every registry query on the snapshot log (time travel, schema
    evolution, CDC), the clustered writers and the multimodal operators,
    hash-checked against their oracles."""
    _assert_subset_ok(
        "catalog_time_travel,catalog_schema_evolution,catalog_cdc_diff,"
        "table_zorder_stats,multimodal_decode,multimodal_resize_plan,"
        "multimodal_frame_plan"
    )


def test_named_subset_ngram_family_queries():
    """The word-n-gram queries no other subset covers — the word-bigram
    graph family, the repetition signals, positional k-gram spans, PMI
    collocations, KMV set operations and DSIR weights, all built on
    ``functions.text.ngrams`` — hash-checked against oracles built on its
    DuckDB twin ``queries.ngrams_sql``."""
    _assert_subset_ok(
        "dedup_substring_spans,doc_repetition,doc_repetition_filter,"
        "doc_repetition_signals,wordgraph_pagerank,wordgraph_triangles,"
        "wordgraph_khop,wordgraph_link_predict,wordgraph_clustering_coeff,"
        "wordgraph_labelprop,kg_entity_profiles,kg_incremental_canonical,"
        "collocation_pmi,sketch_kmv_setops,corpus_importance_weights"
    )


def test_named_subset_whitespace_family_queries():
    """The queries on the whitespace rule that no other subset covers —
    token counts and quality signals, language ID, fingerprints, packing,
    vocabulary and sketch statistics, the inverted index and the KG text
    queries, all built on ``functions.text.tokens``/``normalize_ws``/
    ``has_text`` — hash-checked against oracles built on their DuckDB twins
    ``queries.tokens_sql``/``normalize_ws_sql``/``HAS_TEXT_SQL``."""
    _assert_subset_ok(
        "doc_token_count,doc_quality_score,lang_id_predict,doc_fingerprint,"
        "bpe_token_count,quality_features,text_scalar_functions,"
        "kg_context_disambiguation,kg_negative_samples,mix_temperature_weights,"
        "doc_lm_surprisal,vocab_oov_rate,doc_array_hof_stats,quality_filter_funnel,"
        "kg_fuzzy_linking,pack_training_sequences,cms_heavy_hitters,"
        "topk_tokens_per_lang,vocab_growth_heaps,text_inverted_index,"
        "dedup_chunk_global,pack_concat_cut,doc_chunk_split,training_shard_assign,"
        "ir_phrase_search,text_keyword_rake,lang_id_confusion"
    )


def test_register_ivf_oracle_drops_and_restores(tmp_path):
    """Importing the registry registers all four data-dependent oracles;
    ``register_ivf_oracle`` drops them for an sf_dir without embeddings
    and regenerates them byte-identically for the default scale."""
    from ner_spark.queries import ORACLE
    from ner_spark.queries_hash import register_ivf_oracle

    names = (
        "ann_topk_ivf",
        "embedding_kmeans_stats",
        "ann_topk_ivfpq",
        "dedup_semantic_prune",
    )
    before = dict(ORACLE)
    assert all(n in before for n in names)
    try:
        register_ivf_oracle(str(tmp_path))
        assert set(before) - set(ORACLE) == set(names)
        assert all(ORACLE[n] == before[n] for n in ORACLE)
    finally:
        register_ivf_oracle("/root/testdata/sf0.01")
    assert ORACLE == before
