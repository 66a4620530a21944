"""Spans around the program's public functions, and per-layer Spark
numbers from the event log.

The program's public functions mostly return lazy DataFrames, so a span
alone does not say where Spark work went. Each span therefore also tags
the Spark jobs started inside it: on entry it sets the job description
of the calling thread (commit-pool threads included) to the innermost
open span, and on exit it restores the enclosing one. After the session
stops, :func:`event_log_layers` reads the event log, sums task metrics
per stage, maps each job to its span, and splits the frontier's wave
jobs between fetch and priority by the stage's operator scope
(``MapInPandas`` vs ``Window``).

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

#: span name prefix -> layer (module) for self-time reporting
LAYERS = {
    "op": "bench",
    "frontier.run": "frontier",
    "seen.": "seen",
    "fetch.": "fetch",
    "priority.": "priority",
    "state.": "state",
    "extract.": "extract",
    "sink.": "sink",
    "dedup.pass": "pipeline",
    "dedup.": "dedup",
}
SELF_LAYERS = sorted(set(LAYERS.values()))


def layer_of(span: str) -> str:
    return next(v for k, v in LAYERS.items() if span == k or span.startswith(k))


class Tracer:
    """In-memory span recorder. ``install()`` wraps the public functions
    listed in :data:`TARGETS`; ``uninstall()`` restores them."""

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._patched: list[tuple] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _describe(self, span: dict | None) -> None:
        self.sc.setJobDescription(
            None if span is None else f"perfbench|{self.run_id}|{span['name']}|{span['id']}"
        )

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]["id"]
        else:
            # a pool thread's first span hangs off the innermost span
            # open on the main thread (e.g. commits under frontier.run)
            main = getattr(self, "_main_stack", None)
            parent = main[-1]["id"] if main else None
        s = {
            "id": uuid.uuid4().hex[:12],
            "name": name,
            "parent": parent,
            "thread": threading.get_ident(),
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        if threading.current_thread() is self._main:
            self._main_stack = stack
        stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            self._describe(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name):
        """Replace ``owner.attr`` by a wrapper that runs it inside a span;
        ``name`` is a string or a function of the call's arguments."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name(*a, **kw) if callable(name) else name):
                return orig(*a, **kw)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        for module, attr, name in TARGETS:
            owner = importlib.import_module(module)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            self.wrap(owner, attr, name)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- reporting (spans are recorded when they close) -------------------
    def self_times(self, root: dict) -> dict[str, float]:
        """Self time per span id over ``root``'s interval: each instant
        goes to the innermost open span of every thread (an open span
        with no open child on its own thread), split evenly between
        threads when several run at once. A pool thread's span thus
        shares the instant with the main thread's span it hangs off
        instead of taking it whole. The self times sum to the root's
        wall."""
        spans = [s for s in self.spans if s["start"] >= root["start"] and s["end"] <= root["end"]]
        by_id = {s["id"]: s for s in spans}
        cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
        out = {s["id"]: 0.0 for s in spans}
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            open_ = [s for s in spans if s["start"] <= mid < s["end"]]
            busy = {
                s["parent"]
                for s in open_
                if s["parent"] in by_id and by_id[s["parent"]]["thread"] == s["thread"]
            }
            leaves = [s for s in open_ if s["id"] not in busy]
            for s in leaves:
                out[s["id"]] += (b - a) / len(leaves)
        return out

    def layer_times(self, roots: list[dict]) -> dict:
        """Per-layer self seconds over the root spans' intervals, plus
        the span walls the metrics use."""
        selfs = {k: v for root in roots for k, v in self.self_times(root).items()}
        by_id = {s["id"]: s for s in self.spans}
        layer_self = dict.fromkeys(SELF_LAYERS, 0.0)
        walls: dict[str, float] = {}
        for sid, t in selfs.items():
            s = by_id[sid]
            layer_self[layer_of(s["name"])] += t
            walls[s["name"]] = walls.get(s["name"], 0.0) + (s["end"] - s["start"])
        return {"self": layer_self, "walls": walls, "self_sum": sum(selfs.values())}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=1)


def _table_span(prefix: str):
    return lambda self, *a, **kw: f"{prefix}.{os.path.basename(self.root.rstrip('/'))}"


#: (module, attribute, span name) -- the public functions wrapped
TARGETS = [
    ("edgar_crawler_spark.frontier.frontier", "CrawlFrontier.submit", "seen.admit"),
    ("edgar_crawler_spark.frontier.frontier", "CrawlFrontier.run", "frontier.run"),
    # the frontier module's own references: these return lazy plans
    ("edgar_crawler_spark.frontier.frontier", "fetch_wave", "fetch.plan"),
    ("edgar_crawler_spark.frontier.frontier", "with_priority", "priority.plan"),
    ("edgar_crawler_spark.frontier.frontier", "url_seen_anti_join", "seen.anti_join"),
    ("edgar_crawler_spark.frontier.seen", "PersistedBloomTable.update", "seen.filter_update"),
    ("edgar_crawler_spark.frontier.state", "SnapshotTable.append", _table_span("state.commit")),
    ("edgar_crawler_spark.frontier.state", "SnapshotTable.overwrite", _table_span("state.commit")),
    ("edgar_crawler_spark.extract.spark_extract", "extract_json_records", "extract.plan"),
    ("edgar_crawler_spark.sources.blob_sink", "write_filing_json_files", "sink.write"),
    ("edgar_crawler_spark.plans.pipeline", "caption_near_dups_from_frontier", "dedup.pass"),
    ("edgar_crawler_spark.operators.dedup", "IncrementalLSHIndex.add", "dedup.lsh_add"),
    ("edgar_crawler_spark.operators.dedup", "hamming_near_dup_pairs", "dedup.hamming"),
]


# ------------------------------------------------------------- event log


def _scopes(stage_info: dict) -> set[str]:
    return {
        json.loads(rdd.get("Scope") or "{}").get("name", "").split(" (")[0]
        for rdd in stage_info.get("RDD Info", [])
    }


def read_event_log(log_dir: str, run_id: str) -> dict:
    """Jobs, stages and task metrics of this tracer's run from the
    Spark event log written under ``log_dir``."""
    # Spark 4 writes a directory per app (eventlog_v2_*) of rolled files
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p))
    jobs, stage_job, stages, tasks = {}, {}, {}, {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    parts = desc.split("|")
                    if len(parts) != 4 or parts[0] != "perfbench" or parts[1] != run_id:
                        continue
                    jobs[ev["Job ID"]] = {"span": parts[2], "start": ev["Submission Time"], "end": None}
                    for si in ev.get("Stage Infos", []):
                        stage_job[si["Stage ID"]] = ev["Job ID"]
                        stages.setdefault(si["Stage ID"], _scopes(si))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        stages[sid] = _scopes(ev["Stage Info"]) | stages.get(sid, set())
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "gc_s": m.get("JVM GC Time", 0) / 1e3,
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                            "shuffle_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        }
                    )
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages, "tasks": tasks}


def _skew(ts: list[dict]) -> float:
    runs = [t["run_s"] for t in ts]
    med = statistics.median(runs) if runs else 0.0
    return max(runs) / med if med > 0 else 0.0


def event_log_layers(log: dict) -> dict:
    """Per-layer Spark numbers for the traced rep."""
    jobs, stage_job, stages, tasks = log["jobs"], log["stage_job"], log["stages"], log["tasks"]
    acc: dict[str, float] = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    fetch_skew, extract_skew = [], []
    job_has_map = {}
    for sid, ts in tasks.items():
        job_has_map.setdefault(stage_job[sid], False)
        if "MapInPandas" in stages.get(sid, ()):
            job_has_map[stage_job[sid]] = True
    for sid, ts in tasks.items():
        job = jobs[stage_job[sid]]
        span, scopes = job["span"], stages.get(sid, set())
        busy = sum(t["run_s"] for t in ts)
        shuffle_w = sum(t["shuffle_w"] for t in ts)
        shuffle_r = sum(t["shuffle_r"] for t in ts)
        add("spark.tasks", len(ts))
        add("spark.shuffle_write_bytes", shuffle_w)
        add("spark.spill_bytes", sum(t["spill"] for t in ts))
        add("spark.gc_s", sum(t["gc_s"] for t in ts))
        if span in ("frontier.run", "seen.admit") and "MapInPandas" in scopes:
            add("fetch.busy_s", busy)
            add("fetch.shuffle_bytes", shuffle_w + shuffle_r)
            fetch_skew.append(_skew(ts))
        elif span == "frontier.run" and "Window" in scopes:
            add("priority.busy_s", busy)
        elif span.startswith("sink.") and "MapInPandas" in scopes:
            add("extract.busy_s", busy)
            extract_skew.append(_skew(ts))
        if span == "seen.admit":
            add("seen.shuffle_bytes", shuffle_w)
        if span.startswith("dedup."):
            add("dedup.shuffle_bytes", shuffle_w)
    for jid, job in jobs.items():
        if job["span"].startswith("sink.") and not job_has_map.get(jid, True) and job["end"]:
            add("extract.partition_s", (job["end"] - job["start"]) / 1e3)
    acc["spark.jobs"] = len(jobs)
    acc["fetch.task_skew"] = statistics.median(fetch_skew) if fetch_skew else 0.0
    acc["extract.task_skew"] = statistics.median(extract_skew) if extract_skew else 0.0
    return acc
