"""Invariant tests for the edit-distance/HLL/EWMA batch: each result is
re-derived independently in python (hashlib md5, dynamic-programming
Levenshtein, per-user fold) over the same rows."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from ner_spark.operators.dedup import edit_distance_pairs


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _norm(text: str, max_chars: int = 512) -> str:
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()[:max_chars]


class TestEditDistance:
    @pytest.fixture(scope="class")
    def corpus(self):
        return [
            # 1/2: single word-internal typo -> dist 1, invisible to a
            # token-set Jaccard at high threshold (one token fully lost)
            (1, "the committee approved the referendum on wednesday evening"),
            (2, "the comittee approved the referendum on wednesday evening"),
            # 3/4: same prefix, heavy tail rewrite -> past max_dist
            (3, "the committee rejected every clause and adjourned before noon"
                " citing procedural defects in the original filing entirely"),
            (4, "the committee welcomed every clause and ratified after noon"
                " praising procedural clarity in the amended filing wholesale"),
            # 5: punctuation/case-only variant of 1 -> dist 0 post-normalization
            (5, "The quick-Committee?? approved the REFERENDUM, on wednesday evening"),
        ]

    def test_matches_python_recompute(self, spark, corpus):
        df = spark.createDataFrame(corpus, ["doc_id", "text"])
        got = {
            (r.doc_a, r.doc_b): r.dist
            for r in edit_distance_pairs(df, window=5, max_dist=16).collect()
        }
        # python recompute over every in-window pair of the single block
        keyed = sorted(
            (re.sub(r"[^a-z0-9]+", "", t.lower())[:64], d, _norm(t))
            for d, t in corpus
        )
        want = {}
        for i in range(len(keyed)):
            for off in range(1, 5):
                if i + off >= len(keyed):
                    break
                _, d1, p1 = keyed[i]
                _, d2, p2 = keyed[i + off]
                dist = _lev(p1, p2)
                if dist <= 16:
                    want[(min(d1, d2), max(d1, d2))] = dist
        assert got == want
        assert got[(1, 2)] == 1  # the typo pair survives
        # normalization equates case/punctuation variants — hmm, 5 differs
        # from 1 by the extra token "quick": distance is len("quick ") = 6
        assert got[(1, 5)] == 6
        assert (3, 4) not in got  # heavy rewrite exceeds the threshold

    def test_threshold_prunes_not_truncates(self, spark, corpus):
        # raising max_dist only ADDS pairs; surviving distances are unchanged
        df = spark.createDataFrame(corpus, ["doc_id", "text"])
        lo = {
            (r.doc_a, r.doc_b): r.dist
            for r in edit_distance_pairs(df, window=5, max_dist=8).collect()
        }
        hi = {
            (r.doc_a, r.doc_b): r.dist
            for r in edit_distance_pairs(df, window=5, max_dist=64).collect()
        }
        assert set(lo) <= set(hi)
        assert all(hi[k] == v for k, v in lo.items())


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _doc_shingles(text: str) -> list[str]:
    toks = re.split(r"\s+", text.strip())
    if len(toks) >= 3:
        return list(dict.fromkeys(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ))
    return [" ".join(toks)]


class TestHLL:
    def test_matches_python_recompute_and_error_bound(self, spark):
        # every shingle unique -> 150 docs * 10 = 1500 distinct, inside the
        # raw-estimator range (>= 2.5m = 640)
        rows = [
            (i, "lang1", " ".join(f"a{i}b{j}" for j in range(12)))
            for i in range(150)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])

        from ner_spark.queries_sketch import _HLL_M, _HLL_NUM

        # the registry query reads sf_dir; drive the same construction
        # directly on the synthetic frame
        from ner_spark.functions.text import tokens
        from ner_spark.operators.dedup import _shingles_of

        base = df.select("lang", tokens(F.col("text")).alias("_toks"))
        flat = base.select(
            "lang", F.explode(_shingles_of("_toks", 3)).alias("s")
        )
        from ner_spark.operators.dedup import md5_60

        h = md5_60(F.col("s"))
        rest = F.shiftright(h, 8)
        rho = F.when(rest == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(rest)))
        regs = (
            flat.select("lang", h.bitwiseAND(F.lit(255)).alias("bucket"), rho.alias("rho"))
            .groupBy("lang", "bucket")
            .agg(F.max("rho").alias("r"))
        )
        got = {(r.lang, r.bucket): r.r for r in regs.collect()}

        # python recompute of the registers
        regs_py: dict[tuple[str, int], int] = {}
        seen: set[str] = set()
        for _, lang, text in rows:
            for s in _doc_shingles(text):
                seen.add(s)
                hv = _md5_60(s)
                bucket, rest_v = hv & 255, hv >> 8
                r = 53 if rest_v == 0 else 53 - rest_v.bit_length()
                k = (lang, bucket)
                regs_py[k] = max(regs_py.get(k, 0), r)
        assert got == regs_py

        # estimate formula + error bound (HLL rse ~ 1.04/sqrt(256) = 6.5%)
        s_scaled = sum(1 << (53 - r) for r in regs_py.values()) + (
            _HLL_M - len(regs_py)
        ) * (1 << 53)
        est = round(_HLL_NUM / float(s_scaled), 4)
        assert abs(est - len(seen)) / len(seen) < 0.2
        assert len(seen) >= 2.5 * _HLL_M  # raw-estimator validity precondition


class TestEWMA:
    def test_matches_python_fold(self, spark):
        import datetime

        rows = []
        eid = 0
        t0 = datetime.datetime(2024, 1, 1)
        for u in range(3):
            for i in range(12):
                rows.append(
                    (eid, u, t0 + datetime.timedelta(minutes=i), 10.0 * u + i * 0.37)
                )
                eid += 1
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])

        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        v = df.select(
            "event_id",
            "user_id",
            "ts",
            F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
        )
        lags = [F.col("v_milli")] + [F.lag("v_milli", j).over(w) for j in range(1, 8)]
        weights = [1 << (7 - j) for j in range(8)]
        num = sum(
            (F.coalesce(c, F.lit(0)) * F.lit(wt) for c, wt in zip(lags, weights)),
            F.lit(0),
        )
        den = sum(
            (
                F.when(c.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
                for c, wt in zip(lags, weights)
            ),
            F.lit(0),
        )
        out = v.select(
            "event_id", num.cast("long").alias("num"), den.cast("long").alias("den")
        )
        got = {r.event_id: (r.num, r.den) for r in out.collect()}

        # python fold over the same ordering
        import math

        per_user: dict[int, list[tuple[int, int]]] = {}
        for e, u, ts, val in rows:
            per_user.setdefault(u, []).append((e, math.floor(val * 1000)))
        want = {}
        for u, evs in per_user.items():
            vals = [v_ for _, v_ in evs]
            for i, (e, _) in enumerate(evs):
                num_ = sum(
                    vals[i - j] * (1 << (7 - j)) for j in range(8) if i - j >= 0
                )
                den_ = sum((1 << (7 - j)) for j in range(8) if i - j >= 0)
                want[e] = (num_, den_)
        assert got == want
        # after 8 observations the weight mass is the full 255
        full = [g for g in got.values() if g[1] == 255]
        assert len(full) == 3 * (12 - 7)
