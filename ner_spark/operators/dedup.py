"""Deduplication suite for large-scale training-data pipelines.

The reference only has exact-duplicate elimination (SURVEY.md §2 D1,
reference: src/utils/epg_cleaner.py:61-69); a 100 TB corpus needs the whole
ladder: exact (hash groupBy), near-dup candidates by n-gram Jaccard
(shingle-blocking join with a document-frequency cap on hot shingles),
MinHash+LSH (band-bucket join — the scale path: candidate generation cost
is O(docs x bands), never O(docs^2)), and SimHash (60-bit fingerprint,
hamming-radius candidates with pigeonhole-sound segment blocking).

Every pairwise operator is one blocking self-join (:func:`self_join`: rows
that share a blocking key, ``a.id < b.id``) followed by its own verify
step — shingle counts, exact set overlap, hamming distance, cosine.

Operators read ``doc_id``/``text`` and shingle into word 3-grams.
Everything is pure column expressions (whole-stage codegen, no Python on
the hot path). Every hash is md5, which DuckDB computes bit-identically,
so the SQL oracles replay the exact same signatures.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import has_text, ngrams, tokens
from .scratch import scratch_persist

HASH_P = 1_000_003  # prime modulus for shingle hashing
SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed 64-bit int


def explode_ne(col) -> Column:
    """``explode`` for arrays that are provably non-empty.

    Uses ``explode_outer``, which is row-for-row identical to ``explode``
    when the array is never null/empty — but is exempt from Catalyst's
    ``InferFiltersFromGenerate`` rule. That rule synthesizes a
    ``size(arr) > 0`` filter from an inner explode, and predicate pushdown
    then inlines the whole array-building expression into a per-row filter
    BELOW the projection that computes it, so expensive arrays (shingle
    grams, banded hashes) are built twice per row — measured 17x wall on
    contamination_check at sf0.1. Sessions built by :mod:`ner_spark.session`
    exclude the rule outright; this helper keeps hot operators safe under
    sessions we don't configure (e.g. the driver's).

    Only use on arrays guaranteed non-empty (``shingled`` output, fixed-size
    ``F.array(...)`` literals): for a possibly-empty array, explode drops
    the row while this yields a null-element row.
    """
    return F.explode_outer(col)


def self_join(
    rows: DataFrame, id_col: str, keys: Sequence[str], carry: Sequence[str] = ()
) -> DataFrame:
    """The one blocking self-join: every pair of rows equal on all ``keys``
    columns with ``a.<id_col> < b.<id_col>``, as ``(doc_a, doc_b,
    *<c>_a, *<c>_b)`` for the ``carry`` columns. One row per shared key
    value — no dedup; each caller reduces (count, distinct, verify)."""
    a, b = rows.alias("a"), rows.alias("b")
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    )


def _shingles_of(t: str, n: int):
    """Distinct word n-grams of the token-array column named ``t``
    (``functions.text.ngrams``, with its projected-column condition); a
    doc shorter than ``n`` tokens is one whole-text shingle."""
    return F.array_distinct(
        F.when(F.size(t) >= n, ngrams(t, n)).otherwise(F.array(F.concat_ws(" ", t)))
    )


def shingled(docs: DataFrame) -> DataFrame:
    """(doc, sh) word 3-gram sets with the tokenization materialized in its
    OWN projection: the token split runs once per row and the gram
    expression reads the resulting attribute. CollapseProject will not
    merge the two projections because the token alias is referenced
    3*n_shingles times and is not cheap — exactly the barrier we want."""
    docs = docs.filter(has_text(F.col("text")))
    toks = docs.select(F.col("doc_id").alias("doc"), tokens(F.col("text")).alias("_toks"))
    return toks.select("doc", _shingles_of("_toks", 3).alias("sh"))


def affine_coeffs(k: int, seed: int = 1234) -> list[tuple[int, int]]:
    """k deterministic affine permutation coefficients (a, b) over Z_P."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, HASH_P), rng.randrange(0, HASH_P)) for _ in range(k)]


def md5_60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint.

    Chosen because DuckDB computes the identical value
    (``('0x' || substr(md5(x), 1, 15))::BIGINT``), which lets the driver's
    SQL oracle replay signature computations bit-for-bit.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy; returns groups with >1 members."""
    return (
        docs.filter(F.col("text").isNotNull())
        .groupBy(F.sha2(F.col("text"), 256).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.1, max_df: int | None = None
) -> DataFrame:
    """Near-duplicate pairs by 3-gram Jaccard via shingle-blocking join.

    |A ∩ B| from a shingle-equality self-join (only docs sharing >=1
    shingle are ever paired — the blocking step), then
    J = inter / (|A| + |B| - inter).

    ``max_df``: a shingle shared by d documents contributes d^2 join pairs
    on one key — one stop-phrase shingle with df=10^6 means 10^12 pairs on
    a single reducer. With ``max_df`` set, shingles whose document
    frequency exceeds it are dropped *before* the self-join (the hot set is
    tiny, so it broadcasts into an anti-join) and the Jaccard denominators
    are recomputed over the kept shingles — well-defined "df-capped
    Jaccard" semantics, mirrored exactly by the SQL oracle. Stop-phrase
    shingles carry no dedup signal, so at corpus scale the cap loses
    nothing; ``max_df=None`` keeps the exact semantics for small inputs.
    """
    return _jaccard_at_least(shingle_intersections(docs, max_df), threshold)


def shingle_intersections(docs: DataFrame, max_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, inter) for every doc pair sharing >=1 kept
    shingle — the blocking self-join both set-overlap measures (Jaccard
    resemblance and directional containment) finish from."""

    sh = shingled(docs)
    # the posting list feeds the df-count, the anti-join, the n_sh
    # recount, AND both sides of the self-join — six consumers of the
    # same subtree; without a materialization barrier Spark recomputes
    # the tokenize+gram work for each (measured 6x wall at sf0.1).
    # persist(MEMORY_AND_DISK), NOT localCheckpoint: localCheckpoint
    # truncates lineage, so on a real cluster a lost executor makes its
    # blocks unrecoverable and fails the job — persist keeps the lineage
    # and recomputes lost blocks, at the same local cost.
    posting = scratch_persist(
        sh.select("doc", explode_ne("sh").alias("shingle"))
    )
    if max_df is not None:
        hot = (
            posting.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        posting = posting.join(F.broadcast(hot), "shingle", "left_anti")
    n_sh = posting.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    posting = scratch_persist(posting.join(n_sh, "doc"))
    return (
        self_join(posting, "doc", ["shingle"], carry=("n_sh",))
        .groupBy(
            "doc_a",
            "doc_b",
            F.col("n_sh_a").alias("n_a"),
            F.col("n_sh_b").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def containment_pairs(
    docs: DataFrame, threshold_pct: int = 50, max_df: int | None = None
) -> DataFrame:
    """Directional set containment C = |A ∩ B| / min(|A|, |B|) — the
    asymmetric near-dup measure (Broder's "containment"): a short document
    quoted whole inside a long one scores C=1.0 while its Jaccard
    resemblance is tiny, so a resemblance-threshold dedup pass never sees
    it. Same df-capped blocking join as ``ngram_jaccard_pairs``; the
    threshold compares in exact integers (inter*100 >= min*pct), float
    enters only in the reported rounded ratio.
    """
    inter = shingle_intersections(docs, max_df)
    small = F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.filter(F.col("inter") * 100 >= small * F.lit(threshold_pct))
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "inter",
            F.round(F.col("inter") / small, 4).alias("containment"),
        )
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 3,
    threshold_pct: int = 80,
    key_len: int = 64,
    block_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD 1995): sort on
    a normalized blocking key, compare each record only with the next
    ``window-1`` records in sort order, verify candidates with exact
    token-set Jaccard. The classic alternative to hash/LSH blocking —
    O(docs * window) comparisons, catches near-dups whose edits are *past*
    the key prefix (where a hash block would split them).

    Scale: the sliding window is a ``lead()`` window PARTITIONED by the
    key's ``block_len``-char prefix — never an unpartitioned global window
    (each block sorts independently; pairs straddling a block boundary are
    the method's documented recall trade, same as its multi-pass mitigation
    in the literature). A pathological block (every doc starting with the
    same 2 chars) concentrates one partition; the standard fix is another
    pass with a different key, not salting, since the window needs true
    sort adjacency. Verification is JVM-side set arithmetic
    (array_intersect on pre-distincted token arrays); the threshold
    compares in integers (inter*100 >= union*pct).
    """
    pairs = _snm_candidates(docs, window, key_len, block_len, _snm_token_set())
    return _jaccard_verify(pairs, threshold_pct)


def _snm_token_set() -> Column:
    """Distinct lowercase [a-z0-9] tokens of ``text`` — the sorted-
    neighborhood Jaccard verifier's payload."""
    return F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    )


def _jaccard_verify(pairs: DataFrame, threshold_pct: int) -> DataFrame:
    """Token-set Jaccard verifier over (doc_a, doc_b, pa, pb) candidates:
    intersection/union sizes computed map-side (the token arrays never
    cross the distinct's exchange), integer threshold compare."""
    inter = F.size(F.array_intersect("pa", "pb"))
    scored = pairs.select(
        "doc_a",
        "doc_b",
        inter.alias("inter"),
        (F.size("pa") + F.size("pb") - inter).alias("uni"),
    ).distinct()
    return (
        scored.filter(F.col("inter") * 100 >= F.col("uni") * F.lit(threshold_pct))
        .select("doc_a", "doc_b", F.round(F.col("inter") / F.col("uni"), 4).alias("jaccard"))
    )


def sorted_neighborhood_multipass(
    docs: DataFrame,
    window: int = 3,
    threshold_pct: int = 80,
    key_len: int = 64,
    block_len: int = 2,
) -> DataFrame:
    """Multi-pass sorted-neighborhood dedup — the literature's standard fix
    for single-pass SNM's boundary blindness (Hernández & Stolfo run
    several passes with INDEPENDENT keys and union the matches): pass 1
    sorts on the forward-normalized key, pass 2 on its REVERSE, so two
    near-dups that diverge in their opening characters (different forward
    blocks, never compared in pass 1) still land adjacent when their
    endings agree. Candidates from both passes union BEFORE the verifier,
    whose distinct collapses pairs found by both; cost is exactly 2x the
    single pass (two block-partitioned window scans), still O(docs*window)
    comparisons — never all-pairs."""
    toks = _snm_token_set()
    fwd = _snm_candidates(docs, window, key_len, block_len, toks)
    rev_key = F.reverse(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", ""))
    rev = _snm_candidates(docs, window, key_len, block_len, toks, key_expr=rev_key)
    return _jaccard_verify(fwd.unionByName(rev), threshold_pct)


def _snm_candidates(
    docs: DataFrame,
    window: int,
    key_len: int,
    block_len: int,
    payload: Column,
    key_expr: Column | None = None,
) -> DataFrame:
    """Shared sorted-neighborhood candidate generator: (doc_a, doc_b, pa,
    pb) for every pair within ``window-1`` positions in the (skey, doc)
    sort order of each ``block_len``-char key-prefix block. ``payload`` is
    any per-row Column the verifier needs (token set, normalized text);
    ``key_expr`` overrides the default forward-normalized sort key (the
    multi-pass variant passes the reversed key). The lead() window is
    block-partitioned — never global."""
    norm = (
        key_expr
        if key_expr is not None
        else F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", "")
    )
    keyed = (
        docs.filter(has_text(F.col("text")))
        .select(
            F.col("doc_id").alias("doc"),
            F.substring(norm, 1, key_len).alias("skey"),
            payload.alias("pay"),
        )
        .filter(F.col("skey") != "")
        .withColumn("blk", F.substring("skey", 1, block_len))
    )
    w = Window.partitionBy("blk").orderBy("skey", "doc")
    neigh = keyed.select(
        "doc",
        "pay",
        *[F.lead("doc", i).over(w).alias(f"_d{i}") for i in range(1, window)],
        *[F.lead("pay", i).over(w).alias(f"_p{i}") for i in range(1, window)],
    )
    parts = [
        neigh.filter(F.col(f"_d{i}").isNotNull()).select(
            F.least("doc", f"_d{i}").alias("doc_a"),
            F.greatest("doc", f"_d{i}").alias("doc_b"),
            F.col("pay").alias("pa"),
            F.col(f"_p{i}").alias("pb"),
        )
        for i in range(1, window)
    ]
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return pairs


def edit_distance_pairs(
    docs: DataFrame,
    window: int = 3,
    max_dist: int = 16,
    max_chars: int = 512,
    key_len: int = 64,
    block_len: int = 2,
) -> DataFrame:
    """Levenshtein-verified near-dup pairs over the sorted-neighborhood
    sliding window — the character-level verifier the SNM literature pairs
    with windowed blocking, catching word-internal typo edits that the
    token-set Jaccard verifier rounds away (one char flipped = whole token
    lost to a set measure, but edit distance 1).

    The compared payload is the ASCII-normalized text (lower, non-[a-z0-9]
    runs collapsed to single spaces) truncated to ``max_chars`` — the
    normalization guarantees byte==char semantics everywhere (JVM
    levenshtein counts UTF-16 chars, other engines count bytes; on pure
    ASCII they agree), and the cap bounds the O(len^2) DP per pair. The
    JVM's threshold-pruned levenshtein (3-arg form, Ukkonen band) returns
    -1 past ``max_dist``, so rejected candidates cost O(len*max_dist),
    not O(len^2).
    """
    ascii_words = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    pay = F.substring(F.trim(ascii_words), 1, max_chars)
    pairs = _snm_candidates(docs, window, key_len, block_len, pay)
    dist = F.levenshtein(F.col("pa"), F.col("pb"), max_dist)
    scored = pairs.select(
        "doc_a", "doc_b", dist.cast("long").alias("dist")
    ).distinct()
    return scored.filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))


def minhash_signatures(docs: DataFrame, k: int = 32) -> DataFrame:
    """k-permutation MinHash signatures over 3-gram shingles, pure column
    expressions, JVM-side and deterministic at any parallelism.

    ONE md5 per shingle (:func:`md5_60`, materialized as its own
    projection), then k affine permutations (a_j*h + b_j) mod P over the
    reduced hash; signature element j = min over the doc's shingles. One
    md5 per shingle instead of one per (shingle, j) pair, and DuckDB
    replays both md5 and the integer constants bit-for-bit, so the SQL
    oracle recomputes the exact signatures. h is reduced mod P first so
    a_j*h never overflows int64.
    """
    # project tokens, then the shingle array, each ONCE (see shingled):
    # referencing raw expressions inside all k permutation expressions
    # would re-tokenize and re-build the n-gram array k times per row (no
    # CSE across sibling expressions) — measured 20x slower on long docs
    hs = shingled(docs).select(
        "doc",
        F.transform(F.col("sh"), lambda s: F.pmod(md5_60(s), F.lit(HASH_P))).alias("hs"),
    )

    def perm(a: int, b: int):
        # closure (not default args): F.transform treats any 2+-param
        # lambda as (element, array_index) and would shadow a/b
        return F.array_min(
            F.transform(F.col("hs"), lambda h: F.pmod(a * h + b, F.lit(HASH_P)))
        )

    sig = F.array(*[perm(a, b) for a, b in affine_coeffs(k)])
    return hs.select("doc", sig.alias("sig"))


def _check_bands(k: int, bands: int) -> None:
    if bands < 1 or k % bands:
        raise ValueError(f"bands={bands} must be >= 1 and divide k={k}")


def _banded_signatures(docs: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc, band, bucket) rows: the signature split into ``bands`` band
    keys — the LSH index layout shared by the self-join
    (:func:`minhash_lsh_pairs`) and the asymmetric delta-vs-index probe
    (:func:`minhash_incremental_pairs`). The bucket key is the band slice
    itself as a string (SQL-replayable)."""
    r = k // bands
    sigs = minhash_signatures(docs, k)

    def bucket(bi: int):
        sliced = F.slice("sig", bi * r + 1, r)
        return F.concat_ws(",", F.transform(sliced, lambda x: x.cast("string")))

    return sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), bucket(bi).alias("bucket"))
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_lsh_pairs(docs: DataFrame, k: int = 32, bands: int = 8) -> DataFrame:
    """LSH candidate pairs: band the signature, bucket-join per band.

    Cost is O(docs x bands) for bucketing plus within-bucket pairing — the
    100 TB-safe candidate generator. Pairs are distinct; verify with
    ngram_jaccard on the candidates if exact scores are needed.
    """
    _check_bands(k, bands)
    return self_join(_banded_signatures(docs, k, bands), "doc", ["band", "bucket"]).distinct()


def _pair_overlaps(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, inter) for each (doc_a, doc_b) candidate
    pair: the sizes of both docs' distinct shingle arrays (``sets`` is
    :func:`shingled` output) and the exact size of their intersection,
    computed map-side after two doc-keyed joins. The one verifier every
    candidate generator here finishes with; each caller applies its own
    threshold predicate and output schema."""
    sa = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("inter"),
        )
    )


def _jaccard_at_least(overlaps: DataFrame, threshold: float) -> DataFrame:
    """Rounded float Jaccard of (doc_a, doc_b, n_a, n_b, inter) rows, kept
    where it reaches ``threshold`` — the predicate and 3-column output of
    the float-threshold Jaccard operators."""
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        overlaps.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_verified_pairs(
    docs: DataFrame, threshold: float = 0.1, k: int = 32, bands: int = 8
) -> DataFrame:
    """MinHash-candidates -> exact-Jaccard-verify, composed as ONE operator.

    This is the 100 TB dedup recipe the module's docstrings point at:
    ``ngram_jaccard_pairs``'s direct shingle self-join costs O(sum df^2)
    over shingle document frequencies (even df-capped), while the banded
    LSH candidate join costs O(docs x bands) — so at corpus scale,
    generate candidates with LSH and spend exact-verify work ONLY on
    candidate pairs. Scores and output schema match ``ngram_jaccard_pairs``
    (uncapped) restricted to LSH-caught pairs; with enough bands the two
    outputs coincide above the threshold (recall property, pinned by
    tests/test_dedup_similarity.py).

    Verify: :func:`_pair_overlaps` intersects each candidate pair's
    shingle arrays. The shingle sets are persisted once; the signature
    pass inside :func:`minhash_lsh_pairs` builds the identical
    ``shingled`` subplan, so Spark's cache serves it too. A candidate with
    no shared shingle scores 0.0 and passes only a threshold <= 0.
    """
    sets = scratch_persist(shingled(docs))
    cand = minhash_lsh_pairs(docs, k, bands)
    return _jaccard_at_least(_pair_overlaps(cand, sets), threshold)


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over word tokens — codegen'd explode + wide sum.

    Per-token 60-bit md5 hash; bit b contributes +1/-1 to counter b;
    fingerprint bit = sign(counter). Round 1 ran this as a pandas UDF with
    blake2b; round 2 as a per-row ``F.aggregate`` lambda over a 60-wide
    accumulator — which executes INTERPRETED (60 x n_tokens expression-tree
    walks per doc). The explode + 60-conditional-sum aggregation here is
    bit-identical (verified exceptAll both ways), stays entirely inside
    whole-stage codegen, and the groupBy's map-side partial aggregation
    means the one shuffle carries a single 60-counter row per doc. md5 is
    bit-identical in DuckDB, so the driver oracle replays it.
    """
    docs = docs.filter(has_text(F.col("text")))
    base = docs.select(F.col("doc_id").alias("doc"), tokens(F.col("text")).alias("_toks"))
    tok = base.select("doc", F.explode("_toks").alias("_t")).withColumn(
        "_h", md5_60(F.col("_t"))
    )
    counters = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("_h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_c{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"_c{b}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        ).cast("long")
    return counters.select("doc", fp.alias("simhash"))


def _segment_layout(n_seg: int, bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """(offset, width) for ``n_seg`` disjoint segments covering all bits.

    Widths differ by at most 1, and ``1 <= n_seg <= bits`` (checked by
    :func:`simhash_near_pairs`) keeps every segment non-empty — an empty
    (all-zero) segment would collide every pair and degenerate to a cross
    join.
    """
    base, extra = divmod(bits, n_seg)
    widths = [base + 1] * extra + [base] * (n_seg - extra)
    out, off = [], 0
    for w in widths:
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup candidates with *sound* segment blocking.

    Blocks = ``max_hamming + 1`` disjoint bit segments: a pair within the
    radius differs in <= max_hamming bits, so by pigeonhole at least one
    segment is identical — candidate recall is 100% at the requested radius
    for ANY radius (round 1 hard-coded 4 blocks, which is only exhaustive
    for hamming <= 3; a radius-10 query silently missed pairs spread over
    all four quarters). Exact hamming verify with bit_count after blocking.
    Wider radii mean narrower segments (coarser buckets, more candidates) —
    the inherent SimHash selectivity/radius trade-off, now explicit.
    """
    if not 0 <= max_hamming < SIMHASH_BITS:
        raise ValueError(f"max_hamming={max_hamming} must be in [0, {SIMHASH_BITS})")
    # both sides of the self-join consume the fingerprint subtree — persist
    # so the hash + wide aggregation runs once, not twice
    sh = scratch_persist(simhash_fingerprints(docs))
    segs = _segment_layout(max_hamming + 1)
    segments = sh.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("q"),
                        F.shiftrightunsigned("simhash", off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("v"),
                    )
                    for i, (off, w) in enumerate(segs)
                ]
            )
        ).alias("qq"),
    ).select("doc", "simhash", "qq.q", "qq.v")
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        self_join(segments, "doc", ["q", "v"], carry=("simhash",))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# packed tie-break key layout: h30 (< 2^30) * 2^32 + (2^32 - 1 - pos).
# The position field must exceed any real document's k-gram count or the
# offset goes negative and borrows into the hash field (silently wrong
# window minima); 2^32 grams ≈ a 4-billion-token document, far above any
# input, and the full key stays < 2^62 (BIGINT-safe in Spark and DuckDB).
WINNOW_HASH_MOD = 1 << 30
WINNOW_POS_BITS = 1 << 32


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD 2003 —
    the MOSS scheme): hash every k-token gram, then in each sliding window
    of ``w`` consecutive gram hashes select the minimum, taking the
    RIGHTMOST position on ties. Guarantees at least one selected
    fingerprint in every w-gram window while sampling ~2/(w+1) of grams.

    The tie rule is packed into one BIGINT — ``key = h30 * WINNOW_POS_BITS
    + (WINNOW_POS_BITS - 1 - pos)`` with ``h30 < WINNOW_HASH_MOD`` (see the
    constants' comment above for the field-width proof) — so a single
    per-doc window ``min()`` performs min-hash + rightmost-pos in one
    comparison and both engines (and the DuckDB oracle) select identical
    fingerprints. Docs shorter than ``w`` grams select the minimum over
    all their grams (one clipped window).

    Returns distinct ``(doc_id, h30)`` rows (h30 = 30-bit gram hash).
    Per-document window frames only — never a global sort; selection of a
    1e9-doc corpus is an embarrassingly parallel scan + local window.
    """
    docs = docs.filter(has_text(F.col("text")))
    base = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    kg = base.select(
        "doc_id",
        F.size("__toks").alias("n"),
        F.posexplode(ngrams("__toks", k)).alias("pos0", "gram"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        (F.col("n") - k + 1).alias("m"),
        (md5_60(F.col("gram")) % WINNOW_HASH_MOD).alias("h30"),
    )
    keyed = kg.select(
        "doc_id",
        "pos",
        "m",
        (
            F.col("h30") * WINNOW_POS_BITS
            + (WINNOW_POS_BITS - 1 - F.col("pos"))
        ).alias("key"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        keyed.withColumn("wmin", F.min("key").over(win))
        .filter(F.col("pos") <= F.greatest(F.lit(1), F.col("m") - w + 1))
        .select("doc_id", F.expr(f"wmin div {WINNOW_POS_BITS}").alias("h30"))
        .distinct()
    )


def prefix_filter_pairs(docs: DataFrame, threshold_pct: int = 70) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. WWW'07): provably every pair with shingle
    Jaccard >= t, with the candidate join restricted to each doc's
    (n - ceil(t*n) + 1) globally-RAREST shingles.

    Why it is lossless: if J(A,B) >= t then |A ∩ B| >= t/(1+t)*(|A|+|B|)
    >= ceil(t*|A|); removing any n_A - ceil(t*n_A) + 1 elements of A must
    therefore leave at least one shared element — so under ANY global
    total order the first (n_A - ceil(t*n_A) + 1) elements of A contain a
    shared shingle, and symmetrically for B. Ordering rare-first makes
    that prefix the cheapest possible join key set.

    Scale shape: posting -> df join (shuffle on shingle, REUSED by the
    candidate self-join), one per-doc window sort for the ranking, prefix
    self-join volume sum(df_prefix^2) over rare shingles only (a
    stop-shingle is only in a doc's prefix if the doc consists almost
    entirely of stop-shingles), then :func:`_pair_overlaps` over the
    collected shingle arrays and an integer Jaccard test
    (inter*100 >= union*pct), one rounded double at the edge. Unlike
    ngram_jaccard_pairs (df-capped, drops hot-shingle-only pairs by
    design) this returns the EXACT threshold join output at every input
    size, and building it runs no Spark job.
    """
    # four consumers read the shingle sets (posting x2 via ranked, sa, sb)
    # and `shingled` output is provably non-empty — barrier + explode_ne,
    # the same shield every sibling multi-consumer operator carries
    sets = scratch_persist(shingled(docs))
    posting = sets.select("doc", explode_ne(F.col("sh")).alias("shingle"))
    dfq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    wn = Window.partitionBy("doc")
    ranked = (
        posting.join(dfq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_sh", F.count(F.lit(1)).over(wn))
    )
    prefix_len = (
        F.col("n_sh")
        - ((F.lit(threshold_pct) * F.col("n_sh") + 99) / 100).cast("long")
        + 1
    )
    # both sides of the candidate self-join read the ranked prefix (a
    # df-join + two windows); the barrier runs it once
    prefix = scratch_persist(
        ranked.filter(F.col("rn") <= prefix_len).select("doc", "shingle")
    )
    cand = self_join(prefix, "doc", ["shingle"]).distinct()
    uni = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        _pair_overlaps(cand, sets)
        .filter(F.col("inter") * 100 >= uni * threshold_pct)
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "inter",
            F.round(F.col("inter") / uni, 4).alias("jaccard"),
        )
    )


def segment_firstseen(docs: DataFrame, width: int = 16) -> DataFrame:
    """Sub-document dedup at fixed ``width``-token segment granularity.

    Splits each document's token stream into consecutive segments of
    ``width`` tokens (the last segment may be shorter), then keeps only
    the GLOBALLY first occurrence of each distinct segment text — the
    survivor is pinned by min(struct(doc_id, seg_idx)), the same
    sentinel struct-min pattern as the correction re-collapse
    (operators/corrections.py). The corpus-wide occurrence count rides
    along.

    Scale shape: segment construction is a map-side explode (no lambda
    HOF in an aggregate — the sequence+explode form stays in codegen);
    the only shuffle keys on segment text, and both the struct-min and
    the count are map-side combinable, so a hot segment (the exact
    thing this operator collapses) partial-aggregates before the
    exchange. The aggregate row IS the survivor — no join-back pass.
    """
    docs = docs.filter(has_text(F.col("text")))
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    idx = base.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0), ((F.size("toks") - 1) / width).cast("int")
            )
        ).alias("seg_idx"),
    )
    segs = idx.select(
        "doc_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.array_join(
            F.slice(F.col("toks"), F.col("seg_idx") * width + 1, F.lit(width)),
            " ",
        ).alias("seg"),
    )
    g = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("first_occ"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    return g.select(
        F.col("first_occ.doc_id").alias("doc_id"),
        F.col("first_occ.seg_idx").alias("seg_idx"),
        "seg",
        "n_occ",
    )


def minhash_incremental_pairs(
    docs: DataFrame,
    delta_mod: int = 5,
    threshold: float = 0.1,
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Incremental dedup: probe a NEW ingest batch against the existing
    corpus's MinHash index — the daily-crawl flow, where re-running the
    full self-join over 10^12 existing docs per ingest is off the table.

    The corpus splits deterministically into ``delta`` (md5 bucket
    ``% delta_mod == 0``, modeling the new batch) and ``index`` (the
    standing corpus). Both sides band their signatures with the SAME
    layout (:func:`_banded_signatures`); candidates come from the
    ASYMMETRIC band-bucket join delta -> index (no delta-delta or
    index-index pairs — intra-batch dups are the self-join's job), then
    exact 3-gram Jaccard is verified only on candidates with the same
    :func:`_pair_overlaps` and float threshold as
    :func:`minhash_verified_pairs` (delta doc as ``doc_a``, index doc as
    ``doc_b``, renamed back to ``doc_new``/``doc_idx`` on output).

    Scale shape: at production the index side is a MATERIALIZED
    (band, bucket, doc) table partitioned by band — the probe is then
    |delta| x bands lookups against a bucketed layout with no shuffle on
    the index side at all; here both sides derive from one table so the
    banding shows up twice in the plan. Candidate volume is
    O(|delta| x bands x bucket-width), never O(|corpus|^2).
    """
    # the shingle sets feed both banding sides and the verify; the
    # signature pass's identical `shingled` subplan is served from cache
    _check_bands(k, bands)
    sets = scratch_persist(shingled(docs))
    is_delta = (
        F.pmod(md5_60(F.concat(F.lit("inc:"), F.col("doc").cast("string"))), F.lit(delta_mod))
        == 0
    )
    banded = _banded_signatures(docs, k, bands).select(
        "doc", "band", "bucket", is_delta.alias("is_delta")
    )
    d, i = banded.filter("is_delta").alias("d"), banded.filter("NOT is_delta").alias("i")
    cand = (
        d.join(
            i,
            (F.col("d.band") == F.col("i.band"))
            & (F.col("d.bucket") == F.col("i.bucket")),
        )
        .select(F.col("d.doc").alias("doc_a"), F.col("i.doc").alias("doc_b"))
        .distinct()
    )
    return _jaccard_at_least(_pair_overlaps(cand, sets), threshold).select(
        F.col("doc_a").alias("doc_new"), F.col("doc_b").alias("doc_idx"), "jaccard"
    )
