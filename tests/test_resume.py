"""S7 / north_rule resume: killed-run semantics via per-bucket manifests.

A full run checkpoints every bucket; damaging the manifest (simulating a
kill mid-stage) and re-running must recompute ONLY the damaged buckets and
reproduce the identical final table.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ner_spark import synth
from ner_spark.operators import consensus as C
from ner_spark.operators.clean import dedup_docs, normalize_docs
from ner_spark.plans.pipeline import KGPipeline
from ner_spark.plans.runner import Runner
from ner_spark.sources.catalog import Catalog

N_BUCKETS = 4


def _build(spark, out_dir):
    docs = synth.synth_docs(spark, 200, seed=42)
    gaz = synth.synth_gazetteer(spark)
    pat = synth.synth_patterns(spark)
    combos = [c["slots"] for c in synth.TRUSTED_COMBOS]
    pipe = KGPipeline(gazetteer=gaz, patterns=pat, trusted_combos=combos)
    runner = Runner(spark=spark, catalog=Catalog(str(out_dir)), n_buckets=N_BUCKETS)

    s0, fp0 = runner.stage("s0_normalize", docs, normalize_docs, key="doc_id",
                           input_fingerprint="synth:200:42")
    s1, fp1 = runner.stage("s1_dedup", s0, dedup_docs, key="text",
                           input_fingerprint=fp0)

    def consensus_transform(clean_part):
        fused = C.fuse_ranked(pipe.ranked_mentions(clean_part))
        return C.promote_trusted(C.priority_vote(fused), combos)

    s3, fp3 = runner.stage("s3_consensus", s1, consensus_transform,
                           key="doc_uid", input_fingerprint=fp1)
    return runner, s3


@pytest.fixture(scope="module")
def first_run(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("kg_resume")
    runner, s3 = _build(spark, out)
    rows = sorted(map(tuple, s3.select("doc_uid", "NE", "label", "start", "end", "method").collect()))
    return out, runner, rows


def test_full_rerun_skips_everything(spark, first_run):
    out, _, rows1 = first_run
    runner, s3 = _build(spark, out)
    for m in runner.metrics:
        assert m.computed_buckets == 0, m
        assert m.skipped_buckets == N_BUCKETS
    rows2 = sorted(map(tuple, s3.select("doc_uid", "NE", "label", "start", "end", "method").collect()))
    assert rows1 == rows2


def test_partial_resume_recomputes_only_damaged_buckets(spark, first_run):
    out, _, rows1 = first_run
    cat = Catalog(str(out))
    # simulate a kill: drop two buckets of s3 from the manifest
    damaged = {1, 3}
    kept = [
        r for r in cat.manifest_rows("s3_consensus") if r["bucket"] not in damaged
    ]
    with open(cat.manifest_path("s3_consensus"), "w", encoding="utf-8") as f:
        for r in kept:
            f.write(json.dumps(r) + "\n")

    runner, s3 = _build(spark, out)
    by_stage = {m.table: m for m in runner.metrics}
    assert by_stage["s0_normalize"].computed_buckets == 0
    assert by_stage["s1_dedup"].computed_buckets == 0
    assert by_stage["s3_consensus"].computed_buckets == len(damaged)
    assert by_stage["s3_consensus"].skipped_buckets == N_BUCKETS - len(damaged)
    rows2 = sorted(map(tuple, s3.select("doc_uid", "NE", "label", "start", "end", "method").collect()))
    assert rows1 == rows2


def test_fingerprint_change_wipes_stale_buckets(spark, tmp_path_factory):
    """Dynamic overwrite only rewrites buckets present in the new write: a
    fingerprint change whose transform emits zero rows for a bucket that
    previously had data must NOT leak the old rows into reads (the marker
    file added in round 2 resets the table dir on fingerprint change)."""
    out = tmp_path_factory.mktemp("kg_stale")
    docs = synth.synth_docs(spark, 50, seed=1)
    runner = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
    full, _ = runner.stage("s0_normalize", docs, normalize_docs, key="doc_id",
                           input_fingerprint="all")
    assert full.count() == 50

    # new fingerprint, transform keeps ONE doc -> 3 of 4 buckets are empty
    def keep_one(df):
        return normalize_docs(df).filter(F.col("doc_id") == "doc00000007")

    runner2 = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
    small, _ = runner2.stage("s0_normalize", docs, keep_one, key="doc_id",
                             input_fingerprint="one")
    got = [r["doc_id"] for r in small.select("doc_id").collect()]
    assert got == ["doc00000007"]  # no stale rows from the previous fingerprint


def test_changed_input_invalidates_downstream(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("kg_fp")
    docs = synth.synth_docs(spark, 50, seed=1)
    runner = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
    _, fp_a = runner.stage("s0_normalize", docs, normalize_docs, key="doc_id",
                           input_fingerprint="synth:50:1")
    # same stage, different input fingerprint -> full recompute
    runner2 = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
    _, fp_b = runner2.stage("s0_normalize", docs, normalize_docs, key="doc_id",
                            input_fingerprint="synth:50:2")
    assert fp_a != fp_b
    assert runner2.metrics[0].computed_buckets == N_BUCKETS


def test_global_stage_empty_result_resumes_without_recompute(spark, tmp_path_factory):
    """A legitimately-empty global-stage output must still record
    completion: the resume contract is zero recomputation, including for
    stages whose correct answer is an empty table."""
    out = tmp_path_factory.mktemp("empty_global")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(0).selectExpr("id as src", "id as dst")

    r1 = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
    df1, fp = r1.global_stage("g_empty", compute, input_fingerprint="x")
    assert df1.count() == 0 and calls["n"] == 1

    r2 = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
    df2, fp2 = r2.global_stage("g_empty", compute, input_fingerprint="x")
    assert df2.count() == 0 and fp2 == fp
    assert calls["n"] == 1  # resume did NOT re-run the compute


def test_concurrent_runners_one_winner_zero_duplicates(spark, tmp_path_factory):
    """Round-4 directive 4: two Runner instances racing the SAME stage +
    fingerprint on one catalog must not interleave a torn write. The
    writer fence admits exactly one; the loser waits on the winner's
    manifest and reads. An injected pause inside the winner's transform
    holds the race window open long enough that, unfenced, both runners
    would be mid-write together (this test fails without the fence: both
    compute and the manifest gets duplicate bucket rows)."""
    import threading
    import time as _time

    out = tmp_path_factory.mktemp("kg_race")
    docs = synth.synth_docs(spark, 120, seed=7)
    started = threading.Barrier(2)
    in_transform = threading.Event()

    def paused_normalize(df):
        in_transform.set()
        _time.sleep(2.0)  # injected pause: widen the fenced write window
        return normalize_docs(df)

    results: dict[str, object] = {}

    def run(tag: str):
        runner = Runner(
            spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS,
        )
        started.wait()
        s0, _ = runner.stage(
            "s0_normalize", docs, paused_normalize, key="doc_id",
            input_fingerprint="race:120:7",
        )
        results[tag] = (runner.metrics[0], s0.count())

    t1 = threading.Thread(target=run, args=("a",))
    t2 = threading.Thread(target=run, args=("b",))
    t1.start(); t2.start(); t1.join(); t2.join()

    m_a, n_a = results["a"]
    m_b, n_b = results["b"]
    # exactly one winner computed; the loser skipped every bucket
    computed = sorted([m_a.computed_buckets, m_b.computed_buckets])
    assert computed == [0, N_BUCKETS], (m_a, m_b)
    # both see the identical full output
    expected = normalize_docs(docs).count()
    assert n_a == n_b == expected
    # zero duplicate manifest rows: one row per bucket per fingerprint
    cat = Catalog(str(out))
    seen = [(r["bucket"], r["fingerprint"]) for r in cat.manifest_rows("s0_normalize")]
    assert len(seen) == len(set(seen)) == N_BUCKETS, seen
    # zero duplicate data rows
    dup = (
        cat.read(spark, "s0_normalize")
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # the fence was actually exercised while the winner was inside its
    # transform (not a sequential fluke) and is released afterwards
    assert in_transform.is_set()
    import os

    assert not any(f.endswith(".writer.lock") for f in os.listdir(out))


def test_sigkilled_writer_lock_is_taken_over_at_once(spark, tmp_path_factory):
    """A writer process SIGKILLed while holding a stage's lock leaves the
    lock file behind, but the kernel drops its flock with the process: a
    new Runner computes every bucket without waiting out writer_wait_sec."""
    import pathlib
    import subprocess
    import sys

    out = tmp_path_factory.mktemp("kg_killed_writer")
    cat = Catalog(str(out))
    with subprocess.Popen(
        [
            sys.executable, "-c",
            "import sys, time\n"
            "from ner_spark.sources.catalog import Catalog\n"
            "assert Catalog(sys.argv[1]).try_acquire_writer('s0_normalize')\n"
            "print('held', flush=True)\n"
            "time.sleep(600)\n",
            str(out),
        ],
        cwd=str(pathlib.Path(__file__).resolve().parent.parent),
        stdout=subprocess.PIPE,
        text=True,
    ) as child:
        try:
            assert child.stdout.readline().strip() == "held"
            assert not cat.try_acquire_writer("s0_normalize")  # held across processes
        finally:
            child.kill()  # SIGKILL: no cleanup runs in the holder
    assert os.path.exists(cat.writer_lock_path("s0_normalize"))  # left behind

    docs = synth.synth_docs(spark, 60, seed=9)
    runner = Runner(spark=spark, catalog=cat, n_buckets=N_BUCKETS)
    s0, _ = runner.stage(
        "s0_normalize", docs, normalize_docs, key="doc_id", input_fingerprint="killed:60:9"
    )
    m = runner.metrics[0]
    assert m.computed_buckets == N_BUCKETS
    assert m.wall_ms < runner.writer_wait_sec * 1000 / 10
    assert s0.count() == normalize_docs(docs).count()
    assert not os.path.exists(cat.writer_lock_path("s0_normalize"))


def test_torn_write_unmanifested_bucket_is_pruned_on_resume(spark, tmp_path_factory):
    """Round-5 hardening: a writer killed mid-write leaves parquet in
    bucket dirs it never manifested. Dynamic overwrite only replaces
    buckets present in the NEW write, so without pruning, a bucket whose
    recompute emits zero rows would leak the dead writer's stale rows
    into every later read (and into the manifest row count)."""
    import os

    out = tmp_path_factory.mktemp("torn_write")
    docs = synth.synth_docs(spark, 50, seed=5)
    cat = Catalog(str(out))
    runner = Runner(spark=spark, catalog=cat, n_buckets=N_BUCKETS)

    # transform keeps ONE doc -> most buckets legitimately emit zero rows
    def keep_one(df):
        return normalize_docs(df).filter(F.col("doc_id") == "doc00000007")

    full, fp = runner.stage("s0_normalize", docs, keep_one, key="doc_id",
                            input_fingerprint="torn:50:5")
    survivor_bucket = spark.read.parquet(cat.table_dir("s0_normalize")).filter(
        F.col("doc_id") == "doc00000007"
    ).select("_bucket").collect()[0][0]
    empty_bucket = next(b for b in range(N_BUCKETS) if b != survivor_bucket)

    # simulate the dead writer's torn write: full rows parked in a bucket
    # that the (re)computed stage will NOT rewrite, with no manifest row
    torn_dir = os.path.join(cat.table_dir("s0_normalize"), f"_bucket={empty_bucket}")
    normalize_docs(docs).limit(5).write.mode("overwrite").parquet(torn_dir)
    kept = [r for r in cat.manifest_rows("s0_normalize") if r["bucket"] != empty_bucket]
    with open(cat.manifest_path("s0_normalize"), "w", encoding="utf-8") as f:
        import json as _json

        for r in kept:
            f.write(_json.dumps(r) + "\n")

    runner2 = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
    resumed, _ = runner2.stage("s0_normalize", docs, keep_one, key="doc_id",
                               input_fingerprint="torn:50:5")
    got = [r["doc_id"] for r in resumed.select("doc_id").collect()]
    assert got == ["doc00000007"]  # stale torn-write rows did NOT leak
    # and the re-manifested bucket records zero rows, not the stale five
    rows_by_bucket = {
        r["bucket"]: r["rows"] for r in cat.manifest_rows("s0_normalize")
    }
    assert rows_by_bucket[empty_bucket] == 0


def test_stale_break_yields_exactly_one_owner(tmp_path_factory):
    """Many survivors of a dead writer race for its leftover lock file in
    the same instant: exactly one of them is admitted and owns the lock.
    Run several rounds to exercise the race."""
    import threading

    for trial in range(5):
        out = tmp_path_factory.mktemp(f"lock_takeover{trial}")
        dead = Catalog(str(out))
        open(dead.writer_lock_path("t"), "w").close()  # a killed writer's file

        n = 8
        gate = threading.Barrier(n)
        cats = [Catalog(str(out)) for _ in range(n)]
        wins: list[bool] = [False] * n

        def racer(i: int) -> None:
            gate.wait()
            wins[i] = cats[i].try_acquire_writer("t")

        ts = [threading.Thread(target=racer, args=(i,)) for i in range(n)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(30)
        assert not any(t.is_alive() for t in ts)
        assert sum(wins) == 1, wins
        owners = [i for i in range(n) if cats[i].owns_writer("t")]
        assert owners == [wins.index(True)], (wins, owners)
        cats[owners[0]].release_writer("t")


def test_acquire_release_cycling_never_overlaps_holders(tmp_path_factory):
    """Release unlinks the lock file while still holding it; a racer that
    opened the old file must not be admitted beside the holder of a fresh
    one. 8 threads cycle acquire/release: at most one holder at any
    instant, and the lock keeps changing hands."""
    import sys
    import threading
    import time

    out = tmp_path_factory.mktemp("lock_cycling")
    n, cycles = 8, 500
    gate = threading.Barrier(n)
    count_lock = threading.Lock()
    state = {"holders": 0, "max": 0, "acquired": 0}

    def cycler() -> None:
        cat = Catalog(str(out))
        gate.wait()
        for _ in range(cycles):
            if not cat.try_acquire_writer("t"):
                continue
            with count_lock:
                state["holders"] += 1
                state["acquired"] += 1
                state["max"] = max(state["max"], state["holders"])
            time.sleep(0.0001)  # hold the lock across a thread switch
            with count_lock:
                state["holders"] -= 1
            cat.release_writer("t")

    ts = [threading.Thread(target=cycler) for _ in range(n)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads inside the fence's steps
    try:
        for t in ts:
            t.start()
        for t in ts:
            t.join(60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in ts)
    assert state["max"] == 1, state
    assert state["acquired"] > n, state  # the lock changed hands
    assert not os.path.exists(Catalog(str(out)).writer_lock_path("t"))


def test_release_ignores_foreign_lock(tmp_path_factory):
    """release_writer on a catalog that does not hold the lock is a no-op:
    it must not unlink the holder's file and so admit a third writer."""
    out = tmp_path_factory.mktemp("lock_owner")
    a = Catalog(str(out))
    b = Catalog(str(out))
    c = Catalog(str(out))
    assert a.try_acquire_writer("t")
    assert not b.try_acquire_writer("t")
    assert a.owns_writer("t") and not b.owns_writer("t")
    b.release_writer("t")  # a non-owner's finally-block fires
    assert a.owns_writer("t")
    assert os.path.exists(a.writer_lock_path("t"))
    assert not c.try_acquire_writer("t")  # C stays out
    a.release_writer("t")
    assert c.try_acquire_writer("t")
    c.release_writer("t")


def test_live_holder_times_out_and_writes_nothing(spark, tmp_path_factory):
    """A live peer holds the stage's lock and never finishes: the Runner
    must not write, must not take the lock, and must fail loudly after
    writer_wait_sec."""
    out = tmp_path_factory.mktemp("lock_live_holder")
    docs = synth.synth_docs(spark, 40, seed=3)
    cat = Catalog(str(out))
    runner = Runner(spark=spark, catalog=cat, n_buckets=N_BUCKETS, writer_wait_sec=1.0)
    holder = Catalog(str(out))
    assert holder.try_acquire_writer("s0_normalize")
    calls = {"n": 0}

    def counting_normalize(df):
        calls["n"] += 1
        return normalize_docs(df)

    with pytest.raises(TimeoutError, match="still held"):
        runner.stage(
            "s0_normalize", docs, counting_normalize, key="doc_id",
            input_fingerprint="live:40:3",
        )
    assert calls["n"] == 0
    assert cat.manifest_rows("s0_normalize") == []  # nothing was written
    assert holder.owns_writer("s0_normalize")  # the live lock is untouched
    holder.release_writer("s0_normalize")


def test_slow_live_writer_keeps_lease_via_heartbeat(spark, tmp_path_factory):
    """A winner whose transform runs for 2 s keeps its lock for the whole
    stage: a peer that arrives mid-transform waits, then finds every
    bucket manifested, so there is exactly one winner and no duplicate
    manifest rows. (The name is from the lease fence this test first
    covered; the kernel lock needs no heartbeat.)"""
    import threading
    import time as _time

    out = tmp_path_factory.mktemp("kg_heartbeat")
    docs = synth.synth_docs(spark, 80, seed=13)
    entered = threading.Event()

    def slow_normalize(df):
        entered.set()
        _time.sleep(2.0)
        return normalize_docs(df)

    results: dict[str, object] = {}

    def run(tag: str, delay: float):
        runner = Runner(
            spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS,
            writer_wait_sec=60.0,
        )
        if delay:
            entered.wait(10.0)
            _time.sleep(delay)
        runner.stage(
            "s0_normalize", docs, slow_normalize, key="doc_id",
            input_fingerprint="hb:80:13",
        )
        results[tag] = runner.metrics[0]

    t1 = threading.Thread(target=run, args=("a", 0.0))
    t2 = threading.Thread(target=run, args=("b", 0.6))  # mid-transform
    t1.start(); t2.start(); t1.join(); t2.join()

    computed = sorted([results["a"].computed_buckets, results["b"].computed_buckets])
    assert computed == [0, N_BUCKETS], (results["a"], results["b"])
    cat = Catalog(str(out))
    seen = [(r["bucket"], r["fingerprint"]) for r in cat.manifest_rows("s0_normalize")]
    assert len(seen) == len(set(seen)) == N_BUCKETS, seen


def test_empty_stage_resume_skips_all_buckets(spark, tmp_path_factory):
    """Every bucket of a per-bucket stage emits zero rows. The stored
    schema keeps the row-less table readable, so the second run skips all
    buckets instead of failing to infer a schema from no parquet files."""
    out = tmp_path_factory.mktemp("empty_stage")
    docs = synth.synth_docs(spark, 20, seed=3)
    for want in ((N_BUCKETS, 0), (0, N_BUCKETS)):
        runner = Runner(spark=spark, catalog=Catalog(str(out)), n_buckets=N_BUCKETS)
        df, _ = runner.stage("s0_empty", docs, lambda d: d.filter("false"),
                             key="doc_id", input_fingerprint="empty")
        m = runner.metrics[0]
        assert (m.computed_buckets, m.skipped_buckets) == want
        assert df.columns == docs.columns and df.count() == 0


def test_manifest_counts_equal_written_table(spark, tmp_path_factory):
    """Manifest row counts come from parquet footers; they must equal a
    scan of the written table, for a cold run and for a resume that
    recomputes damaged buckets. The stored-schema read has the schema an
    inferred read finds."""
    out = tmp_path_factory.mktemp("footer_counts")
    runner, _ = _build(spark, out)
    cat = runner.catalog
    tables = ("s0_normalize", "s1_dedup", "s3_consensus")

    def check():
        for t in tables:
            manifest = {r["bucket"]: r["rows"] for r in cat.manifest_rows(t)}
            scanned = spark.read.parquet(cat.table_dir(t)).groupBy("_bucket").count()
            assert set(manifest) == set(range(N_BUCKETS)), t
            assert {b: n for b, n in manifest.items() if n} == {
                r["_bucket"]: r["count"] for r in scanned.collect()
            }, t
            assert cat.read(spark, t).schema == spark.read.parquet(cat.table_dir(t)).schema

    check()
    # damage: s3 loses two buckets' manifest rows, s1 one bucket's data
    import shutil

    damaged = {0, 2}
    kept = [r for r in cat.manifest_rows("s3_consensus") if r["bucket"] not in damaged]
    cat.clear_manifest("s3_consensus")
    cat.record("s3_consensus", kept)
    kept = [r for r in cat.manifest_rows("s1_dedup") if r["bucket"] != 1]
    cat.clear_manifest("s1_dedup")
    cat.record("s1_dedup", kept)
    shutil.rmtree(f"{cat.table_dir('s1_dedup')}/_bucket=1", ignore_errors=True)
    runner2, _ = _build(spark, out)
    by_stage = {m.table: m.computed_buckets for m in runner2.metrics}
    assert by_stage == {"s0_normalize": 0, "s1_dedup": 1, "s3_consensus": len(damaged)}
    check()


def test_resumed_read_and_bookkeeping_submit_no_spark_jobs(spark, first_run):
    """A fully checkpointed stage costs no Spark job: ``Catalog.read``
    uses the stored schema instead of an inference job, and the manifest
    bookkeeping is file I/O."""
    import time

    out, _, _ = first_run
    cat = Catalog(str(out))
    sc = spark.sparkContext
    group = "catalog_no_jobs"
    sc.setJobGroup(group, "resumed catalog reads")
    try:
        for t in ("s0_normalize", "s1_dedup", "s3_consensus"):
            assert cat.read(spark, t).columns
            fp = cat.manifest_rows(t)[0]["fingerprint"]
            assert not cat.claim_fingerprint(t, fp)
            done = cat.completed_buckets(t, fp)
            assert done == set(range(N_BUCKETS))
            assert cat.prune_unmanifested(t, done) == []
        # sentinel: events reach the status tracker in order, so once this
        # job is visible every earlier job of the group is too
        spark.range(1).collect()
        ids: list[int] = []
        deadline = time.time() + 30
        while not ids and time.time() < deadline:
            time.sleep(0.05)
            ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(ids) == 1, ids
