"""The repo benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload kg_build_resume --seed 1 --seconds 15 --trace 0

Run from the repo root. Workloads (one client, closed loop):

- ``kg_build_resume``: a cold ``run_pipeline.py --input <parquet>
  --n-buckets KG_BUCKETS`` over ``KG_DOCS`` seeded ``synth.synth_docs``
  documents, then a resume: the same command on a copy of that catalog
  stopped after s5, which skips s0..s5 from manifests and recomputes
  s6..s8 from the checkpointed tables. One operation = build + resume.
- ``registry_query``: ``REGISTRY_QUERIES`` (dedup_* and tpch_* queries of
  ``ner_spark.queries.Q``) over seeded tables, one at a time in one
  session, each forced by collecting its result (the checked output), in a
  seed-permuted order. One operation = one pass; an untimed warm-up pass
  comes first.

Timed operations repeat until ``--seconds`` have passed (at least one). The
program runs in a child process (``launch.py``); this process samples the
child's process tree from ``/proc`` (CPU, RSS), checks the outputs, and
prints a stamp line and then, as its last stdout line, ``{"correct",
"attempted", "failed", "metrics"}``: the end-to-end metrics (``setup_s``,
``cpu_s``) with ``--trace 0``, and with ``--trace 1`` the per-layer
metrics, folded from the spans and the Spark event log of a traced run.
A failed check exits 1; a checkout without the program exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

KG_DOCS = 1000
KG_BUCKETS = 16
REGISTRY_SF = 0.01
REGISTRY_QUERIES = [
    "dedup_cluster_survivors",
    "dedup_exact_groups",
    "dedup_prefix_filter_join",
    "tpch_q1",
    "tpch_q5",
    "tpch_q18",
]
WORKLOADS = ("kg_build_resume", "registry_query")
#: the child is killed after this long, so a run ends within 180 s
CHILD_TIMEOUT_S = 150.0

# --------------------------------------------------------------------------
# machine sizing and host probes
# --------------------------------------------------------------------------


def machine_size() -> dict:
    """Program sizing from this machine: all usable cores, and a driver
    heap of a quarter of physical memory (the JVM shares the box with the
    Python workers and this process)."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo", encoding="utf-8") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    driver_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": f"{driver_gb}g"}


def memcpy_gbps(seconds: float = 0.25) -> float:
    """Single-process memcpy bandwidth; reported beside each run only."""
    import numpy as np

    a, b = np.zeros(4_000_000), np.ones(4_000_000)
    t0, n = time.perf_counter(), 0
    while time.perf_counter() - t0 < seconds:
        np.copyto(a, b)
        n += 1
    return n * a.nbytes / (time.perf_counter() - t0) / 1e9


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def proc_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, per live pid:
    [0]=state [1]=ppid [2]=pgrp [11..14]=utime stime cutime cstime [21]=rss."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        out[int(entry)] = raw[raw.rfind(")") + 2 :].split()
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def thread_cpu(pid: int, tid: int) -> tuple[str, int] | None:
    """(name, utime+stime ticks) of one thread, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/task/{tid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2 :].split()
    return raw[raw.find("(") + 1 : raw.rfind(")")], int(fields[11]) + int(fields[12])


class TreeSampler(threading.Thread):
    """Samples CPU-seconds and RSS of a process and all its descendants.

    CPU of a tree = utime+stime of each live process plus cutime+cstime
    (its reaped children), so exited Python workers still count. The CPU
    of the JVMs' JIT compiler threads is also kept on its own: a thread's
    last seen value counts after it exits."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        #: (time, tree CPU-s, JIT compiler CPU-s)
        self.samples: list[tuple[float, float, float]] = []
        self.peak_rss = 0
        self._halt = threading.Event()
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._jit: dict[tuple[int, int], int] = {}  # (pid, tid) -> ticks
        self._scanned: dict[int, float] = {}  # java pid -> last task scan

    def _jit_ticks(self, tree: list[int]) -> int:
        """Compiler threads are looked up once a second, read every sample."""
        now = time.time()
        for pid in tree:
            if now - self._scanned.get(pid, 0.0) < 1.0:
                continue
            try:
                with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as f:
                    if f.read().strip() != "java":
                        continue
                tids = [int(t) for t in os.listdir(f"/proc/{pid}/task")]
            except OSError:
                continue
            self._scanned[pid] = now
            for tid in tids:
                got = thread_cpu(pid, tid)
                if got and got[0].startswith(JIT_THREADS):
                    self._jit.setdefault((pid, tid), got[1])
        for pid, tid in self._jit:
            got = thread_cpu(pid, tid)
            if got:
                self._jit[pid, tid] = got[1]
        return sum(self._jit.values())

    def _snapshot(self) -> tuple[float, float, int]:
        stats = proc_stats()
        children: dict[int, list[int]] = {}
        for pid, f in stats.items():
            children.setdefault(int(f[1]), []).append(pid)
        tree, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            if p in stats:
                tree.append(p)
                todo.extend(children.get(p, []))
        ticks = sum(sum(map(int, stats[p][11:15])) for p in tree)
        rss = sum(int(stats[p][21]) for p in tree)
        return ticks / self._tick, self._jit_ticks(tree) / self._tick, rss * self._page

    def run(self) -> None:
        while not self._halt.is_set():
            cpu, jit, rss = self._snapshot()
            self.samples.append((time.time(), cpu, jit))
            self.peak_rss = max(self.peak_rss, rss)
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def at(self, t: float) -> tuple[float, float]:
        """(tree CPU-s, JIT CPU-s) at time ``t``, linearly interpolated."""
        prev = None
        for ts, cpu, jit in self.samples:
            if ts >= t:
                if prev is None:
                    return cpu, jit
                t0, c0, j0 = prev
                w = (t - t0) / max(ts - t0, 1e-9)
                return c0 + (cpu - c0) * w, j0 + (jit - j0) * w
            prev = (ts, cpu, jit)
        return self.samples[-1][1:] if self.samples else (0.0, 0.0)


END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[1]
    if leaf == "docs_per_s":
        return "docs/s"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf and "per" not in leaf:
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_gbps") or "_gbps_" in leaf:
        return "GB/s"
    if leaf in ("useful_ratio", "overhead_ratio", "bytes_per_input_byte", "max_skew"):
        return "ratio"
    return "count"


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "run_pipeline.py")) and os.path.isdir(
        os.path.join(ROOT, "ner_spark")
    )


def group_alive(pgid: int) -> bool:
    return any(int(f[2]) == pgid and f[0] != "Z" for f in proc_stats().values())


def kill_group(pgid: int, wait_s: float = 10.0) -> None:
    """SIGKILL the child's process group (JVM, Python workers) and wait
    until every member has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.time() + wait_s
    while group_alive(pgid) and time.time() < end:
        time.sleep(0.05)


def run_child(
    spec: dict, env: dict, work: str, deadline: float
) -> tuple[dict | None, float, TreeSampler, str]:
    """Start ``launch.py``, sample its process tree until it exits."""
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    log_path = os.path.join(work, "child.log")
    t_spawn = time.time()
    with open(log_path, "w", encoding="utf-8") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "launch.py"), spec_path],
            cwd=work,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = TreeSampler(child.pid)
        sampler.start()
        try:
            child.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            kill_group(child.pid)
            child.wait()
        finally:
            sampler.stop()
            kill_group(child.pid)  # stray JVM / Python workers, if any
    if child.returncode != 0 or not os.path.exists(spec["result"]):
        return None, t_spawn, sampler, log_path
    with open(spec["result"], encoding="utf-8") as f:
        return json.load(f), t_spawn, sampler, log_path


def op_seconds(op: dict) -> float:
    return sum(b - a for a, b in op["intervals"])


def op_cpu(op: dict, sampler: TreeSampler) -> tuple[float, float]:
    """(tree CPU-s, of which JIT compiler CPU-s) during one operation."""
    cpu = jit = 0.0
    for a, b in op["intervals"]:
        (c0, j0), (c1, j1) = sampler.at(a), sampler.at(b)
        cpu, jit = cpu + c1 - c0, jit + j1 - j0
    return cpu, jit


def check(workload: str, res: dict, spec: dict, cache: str) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages) over the run's operations."""
    from perfbench import checks

    if workload == "registry_query":
        names = spec["registry"]["queries"]
        data = spec["registry"]["data_dir"]
        want = checks.registry_oracle(data, names, os.path.join(data, "oracle.json"))
        failed, msgs = 0, []
        for op in res["ops"]:
            bad = checks.check_registry(op["results"], want)
            failed += len(bad)
            msgs += [f"{k}: {v}" for k, v in bad.items()]
        return len(res["ops"]) * len(names), failed, msgs
    oracle = checks.kg_oracle(
        os.path.join(spec["work"], "input"),
        res["gaz_rows"],
        res["pattern_rows"],
        os.path.join(cache, f"kg-oracle-{spec['seed']}-{spec['kg']['n_docs']}.json"),
    )
    failed, msgs = 0, []
    for op in res["ops"]:
        bad = checks.check_kg_build(op["build_dir"], oracle) + checks.check_kg_resume(
            op["build_dir"], op["resume_dir"], op["resume_stages"]
        )
        failed += bool(bad)
        msgs += bad
    return len(res["ops"]), failed, msgs


def record_history(path: str, entry: dict) -> list[dict]:
    """Append ``entry`` to the run history; returns the earlier entries."""
    past = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            past = [json.loads(line) for line in f if line.strip()]
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps(entry) + "\n")
    return past


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    deadline = time.time() + CHILD_TIMEOUT_S
    if not program_present():
        print(f"program not found under {ROOT} (run_pipeline.py, ner_spark/)", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench_work")
    cache = os.path.join(state, "cache")
    work = os.path.join(state, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    sizing = machine_size()
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "root": ROOT,
        "work": work,
        "result": os.path.join(work, "result.json"),
        "kg": {"n_docs": KG_DOCS, "n_buckets": KG_BUCKETS},
    }
    if args.workload == "registry_query":
        from perfbench import gen

        data = os.path.join(cache, f"registry-sf{REGISTRY_SF}-seed{args.seed}")
        if not os.path.exists(os.path.join(data, "_done")):
            gen.registry_tables(data, args.seed, REGISTRY_SF)
            open(os.path.join(data, "_done"), "w").close()
        order = list(REGISTRY_QUERIES)
        import random

        random.Random(args.seed).shuffle(order)
        spec["registry"] = {"data_dir": data, "queries": order, "sf": REGISTRY_SF}

    # temp files inside the checkout; no JVM perf-data file in /tmp
    submit = [f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData'"]
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
        ]
    env = dict(
        os.environ,
        **sizing,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )

    probe_before = memcpy_gbps()
    steal_before = steal_s()
    try:
        res, t_spawn, sampler, log_path = run_child(spec, env, work, deadline)
        probe_after = memcpy_gbps()
        if res is None:
            with open(log_path, encoding="utf-8", errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        t_check = time.time()
        attempted, failed, msgs = check(args.workload, res, spec, cache)
        t_check = time.time() - t_check
        for msg in msgs:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)

        timed = [op for op in res["ops"] if not op.get("warmup")]
        op_s = statistics.median(op_seconds(op) for op in timed)
        op_cpus = [op_cpu(op, sampler) for op in timed]
        cpu_s = statistics.median(c for c, _ in op_cpus)
        jit_s = statistics.median(j for _, j in op_cpus)
        history = os.path.join(state, "history.jsonl")
        past = record_history(
            history, {"workload": args.workload, "trace": args.trace, "cpu_s": cpu_s}
        )
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            **sizing,
            "kg_docs": KG_DOCS,
            "kg_buckets": KG_BUCKETS,
            "registry_sf": REGISTRY_SF,
            "registry_queries": len(REGISTRY_QUERIES),
            "ops": len(res["ops"]),
            "warmup_ops": len(res["ops"]) - len(timed),
            "op_s_samples": [op_seconds(op) for op in timed],
            "op_cpu_samples": [c for c, _ in op_cpus],
            "op_jit_cpu_samples": [j for _, j in op_cpus],
            "op_parts": [
                {k: v for k, v in op.items() if k.endswith("_s")}
                for op in res["ops"]
            ],
            "child_s": res["end"] - t_spawn,
            "check_s": t_check,
            "steal_s": steal_s() - steal_before,
            "probe_gbps_before": probe_before,
            "probe_gbps_after": probe_after,
        }
        if args.trace:
            from perfbench import trace

            log = trace.read_event_log(os.path.join(work, "eventlog", res["event_log"]))
            result_rows = {
                k: v["rows"] for op in res["ops"] for k, v in op.get("results", {}).items()
            }
            metrics = trace.fold(res, log, result_rows)
            metrics["session.start_s"] = res["session_s"]
            metrics["host.peak_rss_mb"] = sampler.peak_rss / 2**20
            metrics["host.memcpy_gbps"] = probe_before
            metrics["host.memcpy_gbps_after"] = probe_after
            metrics["host.steal_s"] = detail["steal_s"]
            metrics["op.wall_s"] = op_s
            metrics["op.cpu_s"] = cpu_s
            metrics["host.jit_cpu_s"] = jit_s
            untraced = [
                h["cpu_s"] for h in past if h["workload"] == args.workload and not h["trace"]
            ]
            metrics["trace.overhead_ratio"] = (
                cpu_s / statistics.median(untraced) - 1.0 if untraced else 0.0
            )
            detail["overhead_base_runs"] = len(untraced)
            units = {k: unit_of(k) for k in metrics}
        else:
            metrics = {"setup_s": res["ready"] - t_spawn, "cpu_s": cpu_s}
            units = END_TO_END_UNITS
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {
                        k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())
                    },
                }
            )
        )
        return 1 if failed else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops its child (the finally blocks in main)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
