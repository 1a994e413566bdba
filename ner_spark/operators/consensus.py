"""S3 consensus: provenance fusion, priority vote, trusted-pattern promotion.

The reference's consensus core is an *iterated full-outer equi-join* over the
three mention tables with a method-name fusion on each fold step
(reference: src/utils/ner_config.py:57-117). Observation (SURVEY.md §2 C1):
the fold produces ``method`` = underscore-join of the sources *present*, in
fold order — e.g. casEN+stanza -> "casEN_stanza" — and coalesces payload
columns left-first. That is exactly a union + single groupBy with an ordered
provenance concat, which needs ONE shuffle instead of two full-outer joins.
We implement that reformulation; the pandas oracle in oracle/pandas_oracle.py
implements the reference's literal fold and the golden test proves equality.

Everything here is pure column expressions + window functions — whole-stage
codegen, no UDFs (the reference's own history vectorized two of these ops,
SURVEY.md §4 O4; we go the rest of the way).

Shuffle plan at scale: ``fuse_ranked`` repartitions the unioned mentions by
``doc_uid`` ONCE; the aggregation keys and every window partition key are
supersets of ``doc_uid``, so the aggregate, the priority vote, and any
downstream per-doc operator all reuse that single hash partitioning with no
further exchange (verified via .explain in tests/test_plans.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import method_weight

#: fold order of the reference notebook (consensus.ipynb cells 3-6)
SOURCE_ORDER = ("casEN", "spaCy", "stanza")

#: trusted final methods (reference: src/config.yaml final_methods_to_keep)
FINAL_METHODS = (
    "casENOpti",
    "casEN_spaCy_stanza",
    "casEN_stanza_priority",
    "casEN_stanza",
    "spaCy_stanza_priority",
)

KEYS = ("doc_uid", "NE", "label", "start", "end")

#: labels the priority vote may promote (reference: consensus.ipynb cell 6,
#: ``NerConfig(labels_priority=["PER"])``)
LABELS_PRIORITY = ("PER",)


def _first_by_rank(col: Column, rank: Column) -> Column:
    """First non-null value in source-rank order (pandas combine_first
    left-first semantics, reference: ner_config.py:107-113), deterministic."""
    return F.min(
        F.struct(
            F.when(col.isNotNull(), rank).otherwise(F.lit(1 << 30)).alias("r"),
            rank.alias("r2"),
            col.alias("v"),
        )
    )["v"]


def fuse_ranked(unioned: DataFrame) -> DataFrame:
    """C1: union + groupBy fusion of one ranked mentions table (``_rank`` =
    fold position in ``SOURCE_ORDER``: the fused one-pass extractor's
    output). One repartition on doc_uid — the aggregation and every
    downstream per-doc window reuse it.

    The ordered provenance concat is built from one declarative min-slot
    per ``SOURCE_ORDER`` rank joined with ``concat_ws`` (which skips
    absent/NULL slots, so input with fewer ranks fuses the same) — NOT
    from ``array_sort``+``transform``+``array_join`` over a
    ``collect_list``: higher-order functions on aggregation results run
    interpreted, and their per-element lambda evaluation scales
    NEGATIVELY with task threads (measured 24 s for the bare
    collect_list vs 373 s with the HOF chain at local[16], same data —
    a 15x cliff that inverted the whole chain's core-scaling). At most
    one row per (mention key, rank) exists by construction, so
    min(when(rank=i, method)) is exact.
    """
    rank = F.col("_rank")
    n_ranks = len(SOURCE_ORDER)
    slots = [
        F.min(F.when(rank == i, F.col("method"))).alias(f"_m{i}")
        for i in range(n_ranks)
    ]
    return (
        unioned.repartition("doc_uid")
        .groupBy(*KEYS)
        .agg(
            *slots,
            _first_by_rank(F.col("grfs"), rank).alias("grfs"),
            _first_by_rank(F.col("context"), rank).alias("context"),
        )
        .withColumn("method", F.concat_ws("_", *[F.col(f"_m{i}") for i in range(n_ranks)]))
        .select("doc_uid", "NE", "label", "start", "end", "method", "grfs", "context")
    )


def priority_vote(df: DataFrame) -> DataFrame:
    """W1: strict-majority vote (reference: ner_config.py:120-156).

    Within (doc_uid, start, end, NE) groups — same span+surface, any label —
    a row gets ``_priority`` appended iff its label is in ``LABELS_PRIORITY``,
    the group has >1 rows, its weight (#agreeing systems) is the group max,
    and it is the *unique* maximum.
    """
    w = Window.partitionBy("doc_uid", "start", "end", "NE")
    weight = method_weight(F.col("method"))
    max_w = F.max(weight).over(w)
    mask = (
        F.col("label").isin(list(LABELS_PRIORITY))
        & (F.count(F.lit(1)).over(w) > 1)
        & (weight == max_w)
        & (F.sum((weight == max_w).cast("int")).over(w) == 1)
    )
    return df.withColumn(
        "method", F.when(mask, F.concat(F.col("method"), F.lit("_priority"))).otherwise(F.col("method"))
    )


def promote_trusted(
    df: DataFrame, combos: list[list[str]], legacy_empty_missing: bool = False
) -> DataFrame:
    """F3: trusted-pattern promotion, both reference variants.

    A combo is an ordered slot triple; slot i must match ``grfs[i]``.

    - Default (as-run new semantics, reference: ner_config.py:159-197):
      slot i *null-safely* equals ``grfs[i]``; an intentionally-empty slot
      is the literal "" which can never equal a missing (NULL) grf — so
      short combos never fire on mentions with fewer grfs, exactly the NaN
      quirk SURVEY.md §2 F3 pins.
    - ``legacy_empty_missing=True`` (legacy variant, reference:
      ner_config_old.py:241-243 — ``str(x) if notna else ""``): a missing
      grf maps to "" before the compare, so 1-/2-graph combos with ""
      padding DO fire on mentions with fewer grfs.

    Rows with ``method == 'casEN'`` matching any combo are rewritten to
    ``casENOpti`` (both reference variants only rewrite exactly "casEN").
    """
    def combo_cond(slots: list[str]) -> Column:
        cond = F.lit(True)
        for i, slot in enumerate(slots):
            got = F.get(F.col("grfs"), i)
            if legacy_empty_missing:
                cond = cond & (F.coalesce(got, F.lit("")) == F.lit(slot))
            else:
                cond = cond & got.eqNullSafe(F.lit(slot))
        return cond

    any_combo = reduce(
        lambda a, b: a | b, [combo_cond(c) for c in combos], F.lit(False)
    )
    return df.withColumn(
        "method",
        F.when((F.col("method") == "casEN") & any_combo, F.lit("casENOpti")).otherwise(
            F.col("method")
        ),
    )


def vote(ranked: DataFrame, combos: list[list[str]]) -> DataFrame:
    """The consensus composition: C1 fusion -> W1 priority vote -> F3
    trusted promotion, over the extractor's ranked mentions."""
    return promote_trusted(priority_vote(fuse_ranked(ranked)), combos)


def trust_filter(df: DataFrame, methods: tuple[str, ...] = FINAL_METHODS) -> DataFrame:
    """B3: keep only trusted final methods (reference: ner_config_old.py:339-345)."""
    return df.filter(F.col("method").isin(list(methods)))


def dedup_mentions(df: DataFrame, keys: tuple[str, ...] = ("NE", "label", "doc_uid")) -> DataFrame:
    """D7: duplicate-mention dedup with a *pinned* survivor.

    The reference's drop_duplicates keeps an arbitrary row (SURVEY.md §2 D7);
    we pin the survivor to the smallest (start, end, method) so goldens are
    stable in both engines.
    """
    w = Window.partitionBy(*keys).orderBy("start", "end", "method")
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def order_mentions_indexed(df: DataFrame, scratch_dir: str | None = None) -> DataFrame:
    """W2/W3: global order by first source id with pinned tie-breakers
    (reference: ner_config.py:45-55; tie-breakers per SURVEY.md §7 hard #1),
    materialized as ``order_idx`` = the row's position under that sort. A
    bare global sort is invisible to an order-insensitive row hash, so the
    position is emitted as data.

    NOT ``row_number() OVER (ORDER BY ...)``: an unpartitioned window funnels
    every row through ONE task. Distributed two-pass numbering instead:

    1. range-repartition + local sort (the distributed sort a global
       ``orderBy`` compiles to), materialize the physical partition id
       and the within-partition position (``monotonically_increasing_id``'s
       low 33 bits — a per-task counter that follows the sorted row order),
       and checkpoint the result to parquet. The checkpoint pins the sampled
       range bounds: two separate jobs over an unmaterialized range exchange
       may resample different bounds (RangePartitioner seeds by RDD id), and
       a cache would pin them too but leaks in long sessions — a written
       table is deterministic, fault-tolerant, and droppable.
    2. per-partition row counts (#partitions integers to the driver — the
       only collect, bounded by parallelism not data) become cumulative
       offsets, broadcast-joined back: ``order_idx = offset + local + 1``,
       all map-side.

    The sort keys are a total order (mention keys are unique per doc and
    ``files_id[0]`` is unique per doc), so the numbering is deterministic
    at any parallelism.

    The checkpoint parquet defaults to a *cluster-visible* scratch dir
    (``session_scratch_dir``: conf override, else under the warehouse) —
    never a driver-local ``tempfile`` path, which executors on a real
    cluster cannot share; released at the host's ``release_scratch()``.
    """
    from .scratch import session_scratch_dir

    spark = df.sparkSession
    out = scratch_dir or session_scratch_dir(spark, prefix="order_idx")
    sort_cols = ["_k0", "start", "end", "NE", "label", "method"]
    (
        df.withColumn("_k0", F.col("files_id")[0])
        .repartitionByRange(*sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_local", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        )
        .drop("_k0")
        .write.mode("overwrite")
        .parquet(out)
    )
    ranked = spark.read.parquet(out)
    counts = {
        r["_pid"]: r["n"]
        for r in ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    odf = spark.createDataFrame(offsets, "_pid int, _off long")
    return (
        ranked.join(F.broadcast(odf), "_pid")
        .withColumn("order_idx", (F.col("_off") + F.col("_local") + 1).cast("long"))
        .drop("_pid", "_local", "_off")
    )


def legacy_conflict_promotion(
    df: DataFrame, excluded_names: tuple[str, ...] = ()
) -> DataFrame:
    """C3 (legacy variant): composite-vs-atomic conflict self-join
    (reference: ner_config_old.py:166-230).

    The old formulation inner-joins the consensus table with itself on
    (doc_uid, NE, start, end), finds label disagreements where one side is
    a composite method (>1 system) and the other atomic, and promotes EVERY
    row of that composite method with the same (NE, doc) — not just the
    conflicting span (ner_config_old.py:205-209) — with ``_priority``,
    unless the surface is in the excluded-names list (case-insensitive;
    config.yaml:81-92). The current reference replaced this with the window
    vote (W1/priority_vote); this operator exists for parity with the
    legacy behavior and as the self-equi-join skew pattern SURVEY.md §2 C3
    calls out (hot surfaces -> AQE skew splitting handles the join; the
    aggregation below keys on the full mention key, not the surface).
    """
    key = ["doc_uid", "NE", "start", "end"]
    weight = method_weight(F.col("method"))
    a = df.select(*key, "label", "method").withColumn("_w", weight).alias("a")
    b = df.select(*key, "label", "method").withColumn("_w", weight).alias("b")
    lowered = [n.lower() for n in excluded_names]
    # the reference promotes ALL rows of the conflicting composite method
    # with the same (NE, doc) — across every span and label — once any span
    # conflicts (ner_config_old.py:205-209 filters matching_rows on
    # (method, NE, files_id_key) only), so the promotion key is
    # (doc_uid, NE, method), not the conflicting span
    promo_keys = (
        a.join(b, key)
        .filter(
            (F.col("a.label") != F.col("b.label"))
            & (F.col("a._w") > 1)
            & (F.col("b._w") == 1)
            & F.col("a.label").isin(list(LABELS_PRIORITY))
            & (~F.lower(F.col("a.NE")).isin(lowered) if lowered else F.lit(True))
        )
        .select("doc_uid", "NE", F.col("a.method").alias("method"))
        .distinct()
        .withColumn("_promote", F.lit(1))
    )
    out = df.join(promo_keys, ["doc_uid", "NE", "method"], "left")
    return out.withColumn(
        "method",
        F.when(
            (F.col("_promote") == 1) & ~F.col("method").endswith("_priority"),
            F.concat(F.col("method"), F.lit("_priority")),
        ).otherwise(F.col("method")),
    ).drop("_promote")
