"""Dedup suite + similarity search: properties and recall vs exact baselines."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ner_spark.operators import dedup as D
from ner_spark.operators import similarity as S


@pytest.fixture(scope="module")
def corpus(spark):
    """Docs with planted near-duplicates."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "completely different content about spark query engines and shuffles",
        "a third document mentioning customers suppliers and orders in detail",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        # near-dup: first word doubled (guaranteed-nonempty edit)
        first = t.split()[0]
        rows.append((i * 10 + 1, t.replace(first, first + " " + first, 1)))
    rows.append((99, "totally unrelated singleton text with unique words only"))
    rows.append((100, base[0]))  # exact dup of doc 0
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dup_groups(spark, corpus):
    groups = D.exact_dup_groups(corpus).collect()
    assert len(groups) == 1
    [g] = groups
    assert g["members"] == [0, 100] and g["keep_id"] == 0


def test_jaccard_finds_planted_near_dups(spark, corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    assert (0, 1) in pairs and (10, 11) in pairs and (20, 21) in pairs
    assert pairs[(0, 100)] == 1.0  # exact dup
    assert all(0 < v <= 1.0 for v in pairs.values())
    # unrelated docs never pair
    assert not any(99 in p for p in pairs)


def test_jaccard_df_cap_drops_hot_shingles(spark):
    """df-capped Jaccard: a stop-phrase shingle shared by every doc must not
    produce the all-pairs join; capped semantics recompute denominators over
    the kept shingles only."""
    hot = "breaking news update"  # will appear in every doc
    rows = [(i, f"{hot} unique tail {i} alpha beta{i} gamma{i}") for i in range(10)]
    rows.append((100, "breaking news update totally distinct content here now"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = D.ngram_jaccard_pairs(docs, threshold=0.01).collect()
    capped = D.ngram_jaccard_pairs(docs, threshold=0.01, max_df=5).collect()
    # every doc shares the hot 3-gram -> uncapped pairs everything
    assert len(uncapped) == 11 * 10 // 2
    # capped: hot shingles (df=11 > 5) dropped; remaining shingles are
    # doc-unique, so no pairs survive
    assert capped == []


def test_minhash_md5_mode_matches_shape(spark, corpus):
    """The md5 (oracle-replayable) LSH candidates are a superset of the
    high-Jaccard pairs and catch every planted dup."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.6).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(corpus, k=32, bands=16).collect()
    }
    # 16 bands of r=2: P(candidate) = 1-(1-J^2)^16 -> J>=0.6 => ~0.999
    assert exact <= cand
    assert (0, 100) in cand  # exact dup always collides
    assert (0, 1) in cand and (10, 11) in cand


@pytest.mark.parametrize(
    "build",
    [
        lambda docs: D.minhash_lsh_pairs(docs, k=30, bands=8),
        lambda docs: D.minhash_lsh_pairs(docs, k=32, bands=0),
        lambda docs: D.minhash_verified_pairs(docs, k=30, bands=8),
        lambda docs: D.minhash_incremental_pairs(docs, k=32, bands=0),
        lambda docs: D.simhash_near_pairs(docs, max_hamming=60),
        lambda docs: D.simhash_near_pairs(docs, max_hamming=-1),
    ],
    ids=["k_not_banded", "zero_bands", "verified_k_not_banded",
         "incremental_zero_bands", "hamming_too_wide", "hamming_negative"],
)
def test_blocking_shape_errors_raise_value_error(spark, corpus, build):
    """A band count that does not divide k would silently band only part of
    the signature, a 0-bit simhash segment would pair every doc with every
    other; both are rejected up front, also under ``python -O``."""
    with pytest.raises(ValueError):
        build(corpus)


def test_simhash_properties(spark, corpus):
    sh = {r["doc"]: r["simhash"] for r in D.simhash_fingerprints(corpus).collect()}
    assert sh[0] == sh[100]  # identical text -> identical fingerprint
    assert all(0 <= v < (1 << D.SIMHASH_BITS) for v in sh.values())
    near = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_pairs(corpus, max_hamming=16).collect()
    }
    assert near[(0, 100)] == 0
    assert (0, 1) in near  # one-word edit stays within radius


@pytest.mark.parametrize("radius", [3, 4, 7, 10])
def test_simhash_blocking_sound_at_any_radius(spark, radius):
    """Pigeonhole soundness: candidates at radius R = EXACTLY the pairs with
    hamming <= R, for radii where the old 4-quarter blocking silently missed
    pairs (R > 3). The corpus of word-substitution variants produces pairs
    across the whole 0..~30 hamming spectrum."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()
    rng = random.Random(7)
    rows = []
    for i in range(24):
        words = list(base)
        for _ in range(rng.randint(0, 3)):  # 0-3 word substitutions
            words[rng.randrange(len(words))] = f"sub{rng.randrange(8)}"
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    fp = {r["doc"]: r["simhash"] for r in D.simhash_fingerprints(docs).collect()}
    truth = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= radius
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_pairs(docs, max_hamming=radius).collect()
    }
    assert got == truth  # 100% candidate recall AND no false positives
    if radius in (4, 7, 10):
        # the fixture must actually exercise the 4..R band, or the test is vacuous
        assert any(3 < h <= radius for h in truth.values()) or any(
            3 < bin(fp[a] ^ fp[b]).count("1") <= 10 for a in fp for b in fp if a < b
        )


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(3)
    rows = []
    for i in range(80):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # planted near-neighbor of vector 0
    v0 = rows[0][1]
    rows.append((999, [x + rng.gauss(0, 0.01) for x in v0]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


@pytest.fixture(scope="module")
def near_dup_vectors(spark):
    """80 random vectors + 20 planted near-dups (cosine > 0.95)."""
    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(80)]
    planted = []
    for i in range(20):
        vi = rows[i][1]
        rows.append((1000 + i, [x + rng.gauss(0, 0.02) for x in vi]))
        planted.append((i, 1000 + i))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), planted


def test_brute_force_topk_exact(spark, vectors):
    got = S.brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=3).collect()
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert got[0]["nb_id"] == 999 and got[0]["score"] > 0.99


def test_lsh_topk_recall(spark, vectors):
    """Banded LSH recall >= 0.9 vs brute force at k=5 (the single-band
    round-1 design measured ~0.5 at k=1)."""
    queries = vectors.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["nb_id"])
        for r in S.brute_force_topk(vectors, queries, k=5).collect()
    }
    approx = {
        (r["q_id"], r["nb_id"])
        for r in S.lsh_topk(
            vectors, queries, k=5, bands=10, planes_per_band=3, dim=16
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall
    # the planted near-identical pair collides in some band essentially always
    assert (0, 999) in approx


def test_embedding_near_dup_recall(spark, near_dup_vectors):
    """Planted-near-dup recall >= 0.95 at the 0.95-cosine operating point
    (the single-band design's collision probability there was ~0.43)."""
    vecs, planted = near_dup_vectors
    pairs = {
        (r["doc_a"], r["doc_b"]): r["score"]
        for r in S.embedding_near_dup_pairs(
            vecs, threshold=0.95, bands=6, planes_per_band=8, dim=16
        ).collect()
    }
    found = sum(1 for p in planted if p in pairs)
    assert found / len(planted) >= 0.95, (found, len(planted))
    assert all(v >= 0.95 for v in pairs.values())


def test_minhash_verified_equals_direct_jaccard_on_corpus(spark, corpus):
    """The composed candidates->verify operator reproduces the direct
    (uncapped) Jaccard output above threshold on this corpus: at k=32,
    bands=16 (r=2), P(candidate) for J>=0.6 is ~0.999, and verified scores
    are the exact Jaccard — so the two operators must emit identical rows."""
    direct = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.6).collect()
    }
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_verified_pairs(corpus, threshold=0.6, k=32, bands=16).collect()
    }
    assert verified == direct
    assert direct  # the corpus plants near-dups; an empty compare proves nothing


def test_minhash_verified_scores_are_exact_on_candidates(spark, corpus):
    """Every verified pair carries the same score the direct operator
    assigns it (the verify stage is exact, only the candidate set is
    approximate)."""
    direct = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.01).collect()
    }
    verified = D.minhash_verified_pairs(corpus, threshold=0.01, k=16, bands=4).collect()
    assert verified
    for r in verified:
        assert direct[(r["doc_a"], r["doc_b"])] == r["jaccard"]


def test_ivf_topk_full_probe_exact_and_partial_probe(spark, vectors):
    """IVF with nprobe == n_centroids degenerates to the exact result
    (every cell probed, scoring is exact cosine), and at nprobe=1 a query
    still finds its planted near-identical neighbor — near-dups share the
    query's own cell by construction."""
    import numpy as np

    sample = vectors.orderBy("vec_id").limit(100).collect()
    X = np.array([r["embedding"] for r in sample], dtype=np.float64)
    cents = S.kmeans_centroids(X, 8, 5, 7)
    assert len(cents) == 8 and len(cents[0]) == 16
    queries = vectors.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["nb_id"], r["score"], r["rank"])
        for r in S.brute_force_topk(vectors, queries, k=5).collect()
    }
    full = {
        (r["q_id"], r["nb_id"], r["score"], r["rank"])
        for r in S.ivf_topk(vectors, queries, cents, k=5, nprobe=8).collect()
    }
    assert full == exact

    near = {
        (r["q_id"], r["nb_id"])
        for r in S.ivf_topk(
            vectors, vectors.filter(F.col("vec_id") == 0), cents, k=3, nprobe=1
        ).collect()
    }
    assert (0, 999) in near


def test_ivfpq_topk(spark, vectors):
    """IVF+PQ (ADC) structure + retrieval regression: ranks are dense 1..k
    per query, the planted near-identical vector is ADC top-1 for its
    query, and recall@5 vs exact L2 clears a floor calibrated for this
    deliberately tiny code (M=4 subspaces x 8 entries = 12 bits on random
    Gaussians — the hardest PQ case; production codes are 64+ bits and the
    driver hash-checks exact cross-engine determinism separately)."""
    import numpy as np

    rows = vectors.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows])
    coarse = S.kmeans_centroids(X, 8, 8, 42)
    books = [S.kmeans_centroids(X[:, m * 4 : (m + 1) * 4], 8, 8, 77 + m) for m in range(4)]
    queries = vectors.filter(F.col("vec_id") < 10)
    got = S.ivfpq_topk(vectors, queries, coarse, books, k=5, nprobe=3).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    top1 = {r["q_id"]: r["nb_id"] for r in got if r["rank"] == 1}
    assert top1[0] == 999  # planted near-identical vector wins ADC
    exact = set()
    for q in range(10):
        qv = X[ids.index(q)]
        d = sorted(
            (float(((X[i] - qv) ** 2).sum()), ids[i])
            for i in range(len(ids))
            if ids[i] != q
        )
        exact.update((q, nb) for _, nb in d[:5])
    approx = {(r["q_id"], r["nb_id"]) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, recall


def _winnow_reference(tokens: list[str], k: int = 4, w: int = 5) -> set[int]:
    """Literal transcription of Schleimer et al.'s winnowing definition:
    slide a window of w gram-hashes, select the min, rightmost on ties."""
    import hashlib

    grams = [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % (2**30) for g in grams
    ]
    m = len(grams)
    sel: set[int] = set()
    for t in range(max(1, m - w + 1)):
        window = hs[t : t + w]
        kmin = min(window)
        # rightmost occurrence of the min
        sel.add(window[len(window) - 1 - window[::-1].index(kmin)])
    return sel


def test_winnow_fingerprints_matches_reference(spark):
    """Engine winnowing == the textbook algorithm, doc by doc, on a corpus
    seeded with heavy repetition (shared phrases + repeated tokens force
    ties, exercising the rightmost-min rule packed into the BIGINT key)."""
    import random

    from ner_spark.operators.dedup import winnow_fingerprints

    rng = random.Random(13)
    vocab = ["spark", "table", "row", "scan", "join", "agg"]
    docs = []
    for i in range(40):
        n = rng.randrange(4, 40)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # short-doc edge cases: exactly k tokens, k-1 (excluded), and w-1 grams
    docs.append((100, "spark table row scan"))
    docs.append((101, "spark table row"))
    docs.append((102, "spark table row scan join agg"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got: dict[int, set[int]] = {}
    for r in winnow_fingerprints(df, k=4, w=5).collect():
        got.setdefault(r["doc_id"], set()).add(r["h30"])
    expected = {
        i: _winnow_reference(t.split(), 4, 5) for i, t in docs if len(t.split()) >= 4
    }
    assert got == expected


def test_winnow_key_packing_survives_large_positions():
    """The packed tie-break key must round-trip the hash for positions far
    beyond 2^20 grams (the old field width, where the offset went negative
    and borrowed into the hash bits)."""
    from ner_spark.operators.dedup import WINNOW_HASH_MOD, WINNOW_POS_BITS

    for h in (0, 1, WINNOW_HASH_MOD - 1):
        for pos in (1, (1 << 20) + 5, (1 << 21), (1 << 31)):
            key = h * WINNOW_POS_BITS + (WINNOW_POS_BITS - 1 - pos)
            assert key // WINNOW_POS_BITS == h
            assert key < (1 << 62)  # BIGINT-safe in Spark and DuckDB
    # order: same hash, larger pos -> smaller key (rightmost-min tie rule)
    k1 = 7 * WINNOW_POS_BITS + (WINNOW_POS_BITS - 1 - (1 << 21))
    k2 = 7 * WINNOW_POS_BITS + (WINNOW_POS_BITS - 1 - ((1 << 21) + 1))
    assert k2 < k1
