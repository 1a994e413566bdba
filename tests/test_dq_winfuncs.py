"""Semantic properties of the DQ constraint report, TPC-H Q15, and the
rank-family window queries (oracle parity is the driver's job)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_spark.queries import _t
from ner_spark.queries_dq import dq_constraint_report
from ner_spark.queries_relops import events_window_funcs, tpch_top_supplier

SF_DIR = "/root/testdata/sf0.001"


def test_dq_report_covers_all_rules_and_is_sane(spark):
    rows = {r.rule: r for r in dq_constraint_report(spark, SF_DIR).collect()}
    assert len(rows) == 7
    for r in rows.values():
        assert 0 <= r.n_violations <= r.n_checked, r.rule
    # synthetic data is clean on the hard invariants
    assert rows["documents.doc_id unique"].n_violations == 0
    assert rows["orders.o_custkey references customer"].n_violations == 0
    assert rows["documents.n_chars consistent"].n_violations == 0
    n_docs = _t(spark, SF_DIR, "documents").count()
    assert rows["documents.doc_id unique"].n_checked == n_docs


def test_top_supplier_matches_bruteforce_max(spark):
    rows = tpch_top_supplier(spark, SF_DIR).collect()
    assert rows
    li = _t(spark, SF_DIR, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(9,6)")
                ),
                2,
            )
            .cast("double")
            .alias("rev")
        )
        .collect()
    )
    max_rev = max(r.rev for r in per_supp)
    winners = {r.l_suppkey for r in per_supp if r.rev == max_rev}
    assert {r.s_suppkey for r in rows} == winners
    assert all(r.total_revenue == max_rev for r in rows)


def test_window_funcs_bounds_and_monotonicity(spark):
    rows = events_window_funcs(spark, SF_DIR).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        assert 1 <= r.quartile <= 4
        assert 0.0 <= r.pct_rank <= 1.0
        assert 0.0 < r.cum_dist <= 1.0
        by_type.setdefault(r.event_type, []).append(r)
    ev = {
        (r.event_id): (r.value)
        for r in _t(spark, SF_DIR, "events")
        .filter(F.col("value").isNotNull())
        .collect()
    }
    for rs in by_type.values():
        rs.sort(key=lambda r: (ev[r.event_id], r.event_id))
        for a, b in zip(rs, rs[1:]):
            assert a.quartile <= b.quartile
            assert a.pct_rank <= b.pct_rank
            assert a.cum_dist <= b.cum_dist
            assert a.value_band_rank <= b.value_band_rank
        # quartile sizes differ by at most one
        from collections import Counter

        sizes = Counter(r.quartile for r in rs)
        assert max(sizes.values()) - min(sizes.values()) <= 1


def test_quality_funnel_is_monotone_and_anchored(spark):
    from ner_spark.queries_analytic import quality_filter_funnel

    rows = {r.stage: r.n_docs for r in quality_filter_funnel(spark, SF_DIR).collect()}
    assert list(sorted(rows)) == [
        "0_all",
        "1_nonempty",
        "2_min_tokens",
        "3_word_length",
        "4_alpha_ratio",
    ]
    assert rows["0_all"] == _t(spark, SF_DIR, "documents").count()
    ordered = [rows[k] for k in sorted(rows)]
    for a, b in zip(ordered, ordered[1:]):
        assert a >= b, "funnel must be non-increasing"
    assert ordered[-1] > 0, "no document survives — thresholds are broken"


def test_retention_cohorts_account_for_every_active_user(spark):
    from ner_spark.queries_analytic import events_retention_cohorts

    rows = events_retention_cohorts(spark, SF_DIR).collect()
    assert rows
    n_users = (
        _t(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    # at offset 0 every cohort contains each of its users exactly once
    assert sum(r.n_active for r in rows if r.week_offset == 0) == n_users
    for r in rows:
        assert r.week_offset >= 0
    # retention never exceeds the cohort's own size
    size = {r.cohort_week: r.n_active for r in rows if r.week_offset == 0}
    for r in rows:
        assert r.n_active <= size[r.cohort_week]


def test_activity_streaks_match_bruteforce(spark):
    from collections import defaultdict

    from ner_spark.queries_analytic import events_activity_streaks

    rows = {r.user_id: r for r in events_activity_streaks(spark, SF_DIR).collect()}
    days = defaultdict(set)
    for r in _t(spark, SF_DIR, "events").select("user_id", "ts").collect():
        days[r.user_id].add(r.ts.date())
    for uid, ds in days.items():
        ds = sorted(ds)
        best, best_start, cur, cur_start = 1, ds[0], 1, ds[0]
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                cur, cur_start = 1, b
            if cur > best:
                best, best_start = cur, cur_start
        got = rows[uid]
        assert got.max_streak == best, uid
        assert got.first_longest_start == best_start.strftime("%Y-%m-%d")


def test_bucket_checksums_flag_exactly_the_divergent_buckets(spark):
    from ner_spark.queries import _t as t
    from ner_spark.queries_sketch import table_bucket_checksums
    from ner_spark.operators.dedup import md5_60

    rows = table_bucket_checksums(spark, SF_DIR).collect()
    assert sum(r.n_a for r in rows) == t(spark, SF_DIR, "orders").count()
    # buckets holding a dropped key must mismatch; all others must match
    dropped = (
        t(spark, SF_DIR, "orders")
        .filter(F.col("o_orderkey") % 997 == 0)
        .select(
            F.pmod(md5_60(F.col("o_orderkey").cast("string")), F.lit(16)).alias(
                "bucket"
            )
        )
        .distinct()
        .collect()
    )
    divergent = {r.bucket for r in dropped}
    for r in rows:
        assert r.checksums_match == (r.bucket not in divergent), r.bucket
        assert (r.n_a == r.n_b) == (r.bucket not in divergent) or r.n_a != r.n_b


def test_weighted_sample_is_deterministic_and_rate_tracks_weights(spark):
    from ner_spark.queries_corpus import sample_weighted_bernoulli

    a = {r.doc_id for r in sample_weighted_bernoulli(spark, SF_DIR).collect()}
    b = {r.doc_id for r in sample_weighted_bernoulli(spark, SF_DIR).collect()}
    assert a == b, "sampling must be reproducible"
    docs = {
        r.doc_id: (r.source, r.n_chars)
        for r in _t(spark, SF_DIR, "documents")
        .select("doc_id", "source", "n_chars")
        .collect()
    }
    assert 0 < len(a) < len(docs)
    # the max-weight doc of every source is kept with probability ~1
    # (threshold = 2^60); empirical keep rate must exceed half the mean
    # weight ratio and long docs must be kept more often than short ones
    by_len = sorted(docs.items(), key=lambda kv: kv[1][1])
    short = {k for k, _ in by_len[: len(by_len) // 3]}
    long_ = {k for k, _ in by_len[-len(by_len) // 3 :]}
    rate_short = len(a & short) / len(short)
    rate_long = len(a & long_) / len(long_)
    assert rate_long > rate_short


def test_array_hof_stats_match_python(spark):
    from ner_spark.queries_textmine import doc_array_hof_stats

    rows = doc_array_hof_stats(spark, SF_DIR).collect()
    assert rows
    texts = {
        r.doc_id: r.text
        for r in _t(spark, SF_DIR, "documents")
        .filter(F.col("text").isNotNull())
        .collect()
    }
    import re as _re

    for r in rows[:50]:
        toks = _re.split(r"\s+", texts[r.doc_id].strip().lower())
        assert r.n_tokens == len(toks)
        assert r.total_chars == sum(len(t) for t in toks)
        assert r.longest_token == max(len(t) for t in toks)
        assert r.n_long == sum(1 for t in toks if len(t) >= 6)
        assert r.mentions_spark == ("spark" in toks)
