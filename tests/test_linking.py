"""S5: entity linking (broadcast gazetteer, blocking, ambiguity, exclusion)."""

from __future__ import annotations

from ner_spark import schemas
from ner_spark.operators.canonicalize import canonical_entities
from ner_spark.operators.linking import excluded_names_filter, link_mentions


def _mentions(spark, rows):
    cols = ["doc_uid", "NE", "label", "start", "end", "method"]
    return spark.createDataFrame(rows, cols)


def _gaz(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.GAZETTEER)


def test_link_best_candidate_and_label_bonus(spark):
    gaz = _gaz(
        spark,
        [
            ("L_paris", "Paris", "paris", "LOC", 0.9),
            ("P_paris", "Paris", "paris", "PER", 0.8),
        ],
    )
    m = _mentions(
        spark,
        [
            ("d1", "Paris", "LOC", 0, 5, "casEN"),
            ("d2", "Paris", "PER", 3, 8, "spaCy"),
            ("d3", "PARIS  ", "LOC", 0, 7, "casEN"),  # normalization blocks
            ("d4", "Nulleville", "LOC", 0, 10, "casEN"),  # unlinked
        ],
    )
    got = {r["doc_uid"]: (r["entity_id"], r["link_score"]) for r in link_mentions(m, gaz).collect()}
    assert got["d1"] == ("L_paris", 1.4)  # 0.9 + label bonus
    assert got["d2"] == ("P_paris", 1.3)  # PER bonus beats LOC prior
    assert got["d3"] == ("L_paris", 1.4)  # lower+trim normalization
    assert got["d4"] == (None, None)


def test_link_deterministic_tiebreak(spark):
    gaz = _gaz(
        spark,
        [
            ("E_b", "X", "x", "LOC", 0.5),
            ("E_a", "X", "x", "LOC", 0.5),  # same score -> smallest id wins
        ],
    )
    m = _mentions(spark, [("d1", "X", "LOC", 0, 1, "casEN")])
    [r] = link_mentions(m, gaz).collect()
    assert r["entity_id"] == "E_a"


def test_excluded_names_filter(spark):
    m = _mentions(
        spark,
        [("d1", "France", "PER", 0, 6, "casEN"), ("d1", "Curie", "PER", 9, 14, "casEN")],
    )
    out = excluded_names_filter(m, ["france", "Paris"]).collect()
    assert [r["NE"] for r in out] == ["Curie"]


def test_canonical_entities_bridge_via_shared_alias(spark):
    # one surface linked to two entities across mentions -> same component
    gaz = _gaz(
        spark,
        [
            ("E_1", "Alpha", "alpha", "PER", 0.9),
            ("E_2", "Alpha Beta", "alpha beta", "PER", 0.9),
            ("E_3", "Gamma", "gamma", "LOC", 0.9),
        ],
    )
    m = _mentions(
        spark,
        [
            ("d1", "Alpha", "PER", 0, 5, "casEN"),
            ("d2", "Alpha", "ORG", 0, 5, "casEN"),
            ("d3", "Alpha Beta", "PER", 0, 10, "casEN"),
            ("d4", "Gamma", "LOC", 0, 5, "casEN"),
        ],
    )
    linked = link_mentions(m, gaz)
    canon = {r["entity_id"]: r["canonical_id"] for r in canonical_entities(linked).collect()}
    # E_1 and E_2 do NOT share a surface (different aliases) -> separate
    assert canon["E_1"] != canon["E_3"]
    assert set(canon) == {"E_1", "E_2", "E_3"}
    # all mentions of the same normalized surface share one component root
    ent_nodes = canonical_entities(linked)
    assert ent_nodes.count() == 3


def test_ambiguous_alias_bridges_entities(spark):
    gaz = _gaz(
        spark,
        [
            ("E_loc", "Paris", "paris", "LOC", 0.9),
            ("E_per", "Paris", "paris", "PER", 0.5),  # 0.5+bonus beats 0.9
        ],
    )
    m = _mentions(
        spark,
        [
            ("d1", "Paris", "LOC", 0, 5, "casEN"),  # links E_loc
            ("d2", "Paris", "PER", 0, 5, "casEN"),  # links E_per (bonus)
        ],
    )
    linked = link_mentions(m, gaz)
    canon = {r["entity_id"]: r["canonical_id"] for r in canonical_entities(linked).collect()}
    # both entities share surface node surf:paris -> one component
    assert canon["E_loc"] == canon["E_per"]


def test_context_disambiguation_matches_bruteforce(spark):
    from ner_spark.queries_kg import _CTX_GAZ, kg_context_disambiguation

    sf = "/root/testdata/sf0.001"
    docs = [(r["doc_id"], r["text"]) for r in
            spark.read.parquet(f"{sf}/documents.parquet").collect()
            if r["text"] is not None]
    got = {(r["doc_id"], r["alias"]): (r["entity_id"], r["ctx_score"])
           for r in kg_context_disambiguation(spark, sf).collect()}
    checked = 0
    for doc_id, text in docs:
        toks = set(text.strip().lower().split())
        for alias in {a for _, a, _ in _CTX_GAZ}:
            cands = [(e, kws) for e, a, kws in _CTX_GAZ if a == alias]
            if alias not in toks:
                assert all((doc_id, alias) != k for k in got if k[0] == doc_id
                           and k[1] == alias)
                continue
            scored = sorted(
                ((-len(toks & set(kws)), e) for e, kws in cands)
            )
            neg, e = scored[0]
            assert got[(doc_id, alias)] == (e, -neg), (doc_id, alias)
            checked += 1
    assert checked > 0
