"""Spans around the program's public calls, and the event-log folder.

``Tracer`` keeps spans in memory (name, start, end, parent) and tags every
Spark job submitted inside a span with the span id through the Spark local
property ``SPAN_PROP``, so that ``read_event_log`` can attribute the event
log's task metrics to the innermost span that caused them, and ``fold``
turns spans plus those counters into the per-layer record. ``instrument``
wraps the public entry points of each layer: ``Runner.stage`` /
``Runner.global_stage``, the public ``Catalog`` methods and
``combined_mentions``. Registry queries are spanned by the launcher.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time

SPAN_PROP = "perfbench.span"

#: public Catalog methods by the catalog metric they are charged to
CATALOG_KINDS = {
    "write": ("write_buckets", "compact_table"),
    "read": ("read", "exists"),
    "manifest": (
        "manifest_rows",
        "completed_buckets",
        "record",
        "clear_manifest",
        "claim_fingerprint",
        "reset_table",
        "prune_unmanifested",
    ),
    "fence": ("try_acquire_writer", "owns_writer", "heartbeat_writer", "release_writer"),
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None
        #: parent for spans opened on a thread with no open span (the
        #: pipeline's branch threads), set by the launcher per phase
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _tag(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        self._tag(sid)
        rec = {"id": sid, "parent": parent, "name": name, **attrs}
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._tag(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)


def _wrap(tracer: Tracer, owner, attr: str, name_of) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        name = name_of(args, kwargs)
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
            if attr in ("stage", "global_stage"):
                # the Runner's own per-stage count, read at the boundary
                # (by table: the pipeline's two branches append concurrently)
                table = name.split(".", 1)[1]
                rec["computed_buckets"] = next(
                    m.computed_buckets for m in reversed(args[0].metrics) if m.table == table
                )
            return out

    setattr(owner, attr, traced)


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's public calls in spans (process-wide)."""
    from ner_spark.extractors import combined
    from ner_spark.plans import pipeline, runner
    from ner_spark.sources import catalog

    def stage_name(args, kwargs):
        return "runner." + (args[1] if len(args) > 1 else kwargs["name"])

    _wrap(tracer, runner.Runner, "stage", stage_name)
    _wrap(tracer, runner.Runner, "global_stage", stage_name)
    for kind, methods in CATALOG_KINDS.items():
        for m in methods:
            _wrap(tracer, catalog.Catalog, m, lambda a, k, m=m, kind=kind: f"catalog.{kind}.{m}")
    _wrap(tracer, combined, "combined_mentions", lambda a, k: "extractors.combined_mentions")
    # the pipeline module bound the name at import
    pipeline.combined_mentions = combined.combined_mentions


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PYTHON_NODE_HINTS = ("Python", "Arrow", "InPandas")
JOIN_NODE_HINT = "Join"


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m.get("metricType", "sum"))
    for c in node.get("children", []):
        _walk_plan(c, out)


def _metric_value(kind: str, raw: float) -> float:
    if kind == "nsTiming":
        return raw / 1e9
    if kind == "timing":
        return raw / 1e3
    return raw


def _new_counts() -> dict:
    return {
        "task_cpu_s": 0.0,
        "task_run_s": 0.0,
        "gc_s": 0.0,
        "python_s": 0.0,
        "bytes_to_python": 0.0,
        "bytes_from_python": 0.0,
        "rows_from_python": 0.0,
        "join_rows_out": 0.0,
        "shuffle_write_bytes": 0.0,
        "spill_bytes": 0.0,
        "records_written": 0.0,
        "bytes_written": 0.0,
        "peak_exec_mem_bytes": 0.0,
        "tasks": 0.0,
    }


def read_event_log(path: str) -> dict:
    """Per-span Spark counters and job intervals from one event log.

    Returns ``{"spans": {span_id: counts}, "jobs": {span_id: [(start,
    end)]}, "skew": {span_id: [per-stage task run times]}}`` with span id
    ``None`` for work submitted outside any span.
    """
    accum: dict[int, tuple[str, str, str]] = {}
    stage_span: dict[int, str | None] = {}
    job_span: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    jobs: dict[str | None, list] = {}
    counts: dict[str | None, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    with open(path, encoding="utf-8") as f:
        events = [json.loads(line) for line in f if line.strip()]
    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev["sparkPlanInfo"], accum)
        elif kind == "SparkListenerJobStart":
            sid = (ev.get("Properties") or {}).get(SPAN_PROP)
            job_span[ev["Job ID"]] = sid
            job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                jobs.setdefault(job_span[jid], []).append(
                    (job_start[jid], ev["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerStageSubmitted":
            stage_span[ev["Stage Info"]["Stage ID"]] = (ev.get("Properties") or {}).get(
                SPAN_PROP
            )
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd" or not ev.get("Task Metrics"):
            continue
        sid = stage_span.get(ev["Stage ID"])
        c = counts.setdefault(sid, _new_counts())
        m = ev["Task Metrics"]
        c["tasks"] += 1
        c["task_cpu_s"] += (m["Executor CPU Time"] + m["Executor Deserialize CPU Time"]) / 1e9
        run_s = m["Executor Run Time"] / 1e3
        c["task_run_s"] += run_s
        c["gc_s"] += m["JVM GC Time"] / 1e3
        c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        c["spill_bytes"] += m["Disk Bytes Spilled"]
        c["records_written"] += m["Output Metrics"]["Records Written"]
        c["bytes_written"] += m["Output Metrics"]["Bytes Written"]
        c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"], m["Peak Execution Memory"])
        stage_tasks.setdefault(ev["Stage ID"], []).append(run_s)
        for acc in ev["Task Info"].get("Accumulables", []):
            node = accum.get(acc["ID"])
            if node is None or "Update" not in acc:
                continue
            name, metric, mtype = node
            try:
                val = _metric_value(mtype, float(acc["Update"]))
            except (TypeError, ValueError):
                continue
            if any(h in name for h in PYTHON_NODE_HINTS):
                key = {
                    "time to run Python workers": "python_s",
                    "data sent to Python workers": "bytes_to_python",
                    "data returned from Python workers": "bytes_from_python",
                    "number of output rows": "rows_from_python",
                }.get(metric)
                if key:
                    c[key] += val
            elif JOIN_NODE_HINT in name and metric == "number of output rows":
                c["join_rows_out"] += val
    skew: dict[str | None, list[float]] = {}
    for stage, runs in stage_tasks.items():
        med = statistics.median(runs)
        if len(runs) >= 4 and med >= 0.01:
            skew.setdefault(stage_span.get(stage), []).append(max(runs) / med)
    return {"spans": counts, "jobs": jobs, "skew": skew}


def add_counts(into: dict, other: dict) -> None:
    for k, v in other.items():
        into[k] = max(into[k], v) if k == "peak_exec_mem_bytes" else into[k] + v


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanTree:
    """Spans plus the Spark counters of each span's subtree."""

    def __init__(self, spans: list[dict], log: dict | None) -> None:
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int | None, list[int]] = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.log = log or {"spans": {}, "jobs": {}, "skew": {}}

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        """The span's duration minus the part its child spans cover."""
        s = self.spans[sid]
        kids = [
            (self.spans[c]["start"], self.spans[c]["end"]) for c in self.children.get(sid, [])
        ]
        return self.duration(sid) - union_length(kids, s["start"], s["end"])

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, []))
        return out

    def counts(self, sid: int) -> dict:
        """Spark counters of every job submitted inside the span."""
        total = _new_counts()
        for s in self.subtree(sid):
            if str(s) in self.log["spans"]:
                add_counts(total, self.log["spans"][str(s)])
        return total

    def job_intervals(self, sid: int) -> list[tuple[float, float]]:
        return [iv for s in self.subtree(sid) for iv in self.log["jobs"].get(str(s), [])]

    def skews(self, sid: int) -> list[float]:
        return [k for s in self.subtree(sid) for k in self.log["skew"].get(str(s), [])]

    def named(self, prefix: str, under: int | None = None) -> list[int]:
        ids = self.subtree(under) if under is not None else list(self.spans)
        return [i for i in ids if self.spans[i]["name"].startswith(prefix)]


# ---------------------------------------------------------------------------
# per-layer records
# ---------------------------------------------------------------------------

KG_STAGES = (
    "s0_normalize",
    "s1_dedup",
    "s3_consensus",
    "s4_triples",
    "s5_linked",
    "s6_canonical",
    "s7_edges",
    "s8_nodes",
)
SPARK_KEYS = (
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "python_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
    "tasks",
)
QUERY_CHILDREN = ("query.build", "query.collect")


def fold(res: dict, log: dict | None, result_rows: dict[str, int]) -> dict[str, float]:
    """Per-layer metrics of one traced run: the launcher's result (spans,
    operations) plus the event log read by ``read_event_log``. Times
    charged to a layer are self times; Spark counters are summed over the
    jobs each span submitted, its child spans' jobs included."""
    tree = SpanTree(res.get("spans", []), log)
    ops = res["ops"]
    m: dict[str, float] = {"session.start_s": res["session_s"]}
    phases = {"build": tree.named("kg.build"), "resume": tree.named("kg.resume")}
    for phase, roots in phases.items():
        for stage in KG_STAGES:
            spans = [s for r in roots for s in tree.named(f"runner.{stage}", r)]
            key = f"{phase}.runner.{stage}"
            m[f"{key}.wall_s"] = sum(tree.duration(s) for s in spans)
            m[f"{key}.computed_buckets"] = sum(tree.spans[s]["computed_buckets"] for s in spans)
            if phase == "build":
                counts = [tree.counts(s) for s in spans]
                m[f"{key}.rows_out"] = sum(c["records_written"] for c in counts)
                m[f"{key}.shuffle_bytes"] = sum(c["shuffle_write_bytes"] for c in counts)
        for kind in CATALOG_KINDS:
            spans = [s for r in roots for s in tree.named(f"catalog.{kind}.", r)]
            m[f"{phase}.catalog.{kind}_s"] = sum(tree.self_time(s) for s in spans)
        written = [op[f"{phase}_written"] for op in ops if f"{phase}_written" in op]
        m[f"{phase}.catalog.files_written"] = sum(f for f, _ in written)
        m[f"{phase}.catalog.bytes_written"] = sum(b for _, b in written)
        m[f"{phase}.catalog.bytes_per_input_byte"] = (
            m[f"{phase}.catalog.bytes_written"] / (len(written) * res["input_bytes"])
            if written
            else 0.0
        )
    # extraction runs inside the consensus stage's jobs
    extract = [
        tree.counts(s) for r in phases["build"] for s in tree.named("runner.s3_consensus", r)
    ]
    m["extractors.python_s"] = sum(c["python_s"] for c in extract)
    m["extractors.bytes_to_python"] = sum(c["bytes_to_python"] for c in extract)
    m["extractors.bytes_from_python"] = sum(c["bytes_from_python"] for c in extract)
    m["extractors.rows_from_python"] = sum(c["rows_from_python"] for c in extract)
    build_s = sum(op.get("build_s", 0.0) for op in ops)
    m["kg.build_s"] = build_s
    m["kg.resume_s"] = sum(op.get("resume_s", 0.0) for op in ops)
    m["kg.docs_per_s"] = sum(op.get("n_docs", 0) for op in ops) / build_s if build_s else 0.0

    queries = [
        q
        for p in tree.named("registry.pass")
        for q in tree.children.get(p, [])
        if tree.spans[q]["name"].startswith("query.")
    ]
    dedup = [q for q in queries if tree.spans[q]["name"].startswith("query.dedup_")]
    relational = [q for q in queries if tree.spans[q]["name"].startswith("query.tpch_")]
    m["dedup.wall_s"] = sum(tree.duration(q) for q in dedup)
    candidates = sum(tree.counts(q)["join_rows_out"] for q in dedup)
    kept = sum(result_rows.get(tree.spans[q]["name"][len("query.") :], 0) for q in dedup)
    m["dedup.candidate_rows"] = candidates
    m["dedup.result_rows"] = kept
    m["dedup.useful_ratio"] = kept / candidates if candidates else 0.0
    m["relational.wall_s"] = sum(tree.duration(q) for q in relational)
    kids = {
        name: [
            c for q in queries for c in tree.children.get(q, []) if tree.spans[c]["name"] == name
        ]
        for name in QUERY_CHILDREN
    }
    collects = kids["query.collect"]
    exec_s = sum(
        union_length(tree.job_intervals(c), tree.spans[c]["start"], tree.spans[c]["end"])
        for c in collects
    )
    n_q = max(len(queries), 1)
    m["query.build_s"] = sum(tree.duration(b) for b in kids["query.build"]) / n_q
    m["query.exec_s"] = exec_s / n_q
    # a collect's time outside its Spark jobs: Catalyst planning + scheduling
    m["query.plan_s"] = (sum(tree.duration(c) for c in collects) - exec_s) / n_q
    lat = sorted(tree.duration(q) for q in queries)
    m["query.p50_s"] = statistics.median(lat) if lat else 0.0
    m["query.p90_s"] = (
        statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) >= 2 else 0.0
    )

    total = _new_counts()
    skews: list[float] = []
    for root in phases["build"] + phases["resume"] + queries:
        add_counts(total, tree.counts(root))
        skews.extend(tree.skews(root))
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = total[k]
    m["spark.max_skew"] = max(skews) if skews else 0.0
    return m
