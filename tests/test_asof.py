"""As-of and binned range join: semantics (vs brute force) and plan shape."""

from __future__ import annotations

import datetime as dt

from ner_spark.operators.asof import asof_join, range_join_binned
from tests.test_plans import n_exchanges


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second)


def _frames(spark):
    # left: (id, key, ts); right: (rid, key, ts, px)
    left = spark.createDataFrame(
        [
            (1, "a", _ts(5)),   # after r1/r2 tie -> larger rid wins
            (2, "a", _ts(3)),   # exactly at the r1/r2 tie ts -> inclusive
            (3, "a", _ts(1)),   # before any right row -> NULL
            (4, "b", _ts(9)),   # key with a single right row
            (5, "c", _ts(9)),   # key with no right rows at all -> NULL
        ],
        "id long, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, "a", _ts(3), 1.0),  # tie on ts with rid 11
            (11, "a", _ts(3), 2.0),  # larger rid -> wins the tie
            (12, "a", _ts(4), 3.0),
            (13, "b", _ts(2), 9.0),
        ],
        "rid long, key string, ts timestamp, px double",
    )
    return left, right


def test_asof_semantics_ties_and_nulls(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, keys=["key"], values=["px"], tie_col="rid", suffix="_m"
    )
    got = {r["id"]: r["px_m"] for r in out.collect()}
    assert got == {
        1: 3.0,  # latest prior ts (0:04)
        2: 2.0,  # inclusive match at equal ts, tie broken by max rid
        3: None,  # nothing at or before 0:01
        4: 9.0,
        5: None,  # key never appears on the right
    }


def test_asof_costs_one_exchange(spark):
    """Union + window = ONE hash exchange on the keys — the whole point of
    the formulation (no join, no per-left-row probe)."""
    left, right = _frames(spark)
    out = asof_join(left, right, keys=["key"], values=["px"], tie_col="rid")
    assert n_exchanges(out) == 1


def test_range_join_binned_matches_bruteforce(spark):
    """Bucketed equi-join == naive range-predicate join, including intervals
    that straddle a bucket boundary."""
    intervals = spark.createDataFrame(
        [
            (100, "a", _ts(5), _ts(15)),   # straddles the 10-min bucket edge
            (101, "a", _ts(30), _ts(40)),
            (102, "b", _ts(0), _ts(10)),
        ],
        "window_id long, key string, w_start timestamp, w_end timestamp",
    )
    probe = spark.createDataFrame(
        [
            (1, "a", _ts(5)),        # == w_start: inside (inclusive start)
            (2, "a", _ts(12)),       # second bucket of window 100
            (3, "a", _ts(15)),       # == w_end: outside (exclusive end)
            (4, "a", _ts(31)),
            (5, "b", _ts(9, 59)),
            (6, "b", _ts(10)),       # == w_end of 102: outside
            (7, "c", _ts(5)),        # key with no interval
        ],
        "pid long, key string, ts timestamp",
    )
    got = range_join_binned(
        intervals, probe, keys=["key"], start="w_start", end="w_end"
    )
    pairs = {(r["window_id"], r["pid"]) for r in got.collect()}
    expected = {
        (w["window_id"], p["pid"])
        for w in intervals.collect()
        for p in probe.collect()
        if w["key"] == p["key"] and w["w_start"] <= p["ts"] < w["w_end"]
    }
    assert pairs == expected == {(100, 1), (100, 2), (101, 4), (102, 5)}


def test_asof_random_matches_bruteforce(spark):
    """Property check on a deterministic pseudo-random corpus: forward-fill
    as-of == argmax-by-(ts, tie) brute force for every left row."""
    import hashlib

    def h(i: int, salt: str) -> int:
        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)

    lrows = [
        (i, f"k{h(i, 'lk') % 7}", _ts(h(i, 'lt') % 50, h(i, 'ls') % 60))
        for i in range(200)
    ]
    rrows = [
        (i, f"k{h(i, 'rk') % 7}", _ts(h(i, 'rt') % 50, h(i, 'rs') % 60),
         float(h(i, 'rv') % 1000))
        for i in range(150)
    ]
    left = spark.createDataFrame(lrows, "id long, key string, ts timestamp")
    right = spark.createDataFrame(rrows, "rid long, key string, ts timestamp, px double")
    got = {
        r["id"]: r["px_asof"]
        for r in asof_join(
            left, right, keys=["key"], values=["px"], tie_col="rid"
        ).collect()
    }
    for lid, lk, lts in lrows:
        cands = [(ts, rid, px) for rid, rk, ts, px in rrows if rk == lk and ts <= lts]
        want = max(cands)[2] if cands else None
        assert got[lid] == want, (lid, lk, lts)


def test_asof_string_tie_col_is_deterministic(spark):
    """A non-numeric tie column must keep its own type: among right rows
    tied on ts, the greatest STRING id wins (a long cast would null it
    and break the documented tie-break)."""
    from ner_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 10)], ["k", "ts"])
    right = spark.createDataFrame(
        [("u", 10, "rid_a", 1.0), ("u", 10, "rid_c", 3.0), ("u", 10, "rid_b", 2.0)],
        ["k", "ts", "rid", "val"],
    )
    out = asof_join(
        left, right, keys=["k"], values=["rid", "val"], tie_col="rid"
    ).collect()
    assert len(out) == 1
    assert out[0]["rid_asof"] == "rid_c" and out[0]["val_asof"] == 3.0
