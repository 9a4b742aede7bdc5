"""Tracing for the benchmark's traced run.

Two sources, both read from the benchmark's own files:

- **Spans** around calls into the engine's public functions. The
  wrappers replace the names the crawl plan imported
  (``wormpy_spark.plans.crawl.<name>``) and the catalog's methods for
  the duration of the traced phase, then restore them. Nothing under
  ``wormpy_spark/`` changes; only calls made on the driver are seen.
- **Spark's event log** (uncompressed JSON lines). Every job carries
  the engine's ``setJobDescription`` label, so each job is attributed
  to the layer that launched it.

``account`` checks that the trace adds up: the Spark jobs of one
operation lie inside the operation's wall window,
so the per-job walls (overlap counted once) plus the driver gap between
them equal the wall.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Names wrapped while tracing. These are the names plans.crawl
# imported, so the wrappers see exactly the calls the crawl loop makes.
CRAWL_NAMESPACE_TARGETS = (
    "run_crawl",
    "prepare_fetch_table",
    "run_fast_round",
    "write_pages_parquet",
    "write_frontier_parquet",
    "assign_global_seq",
    "dedup_within_round",
    "expand_frontier",
    "anti_join_seen",
    "add_bloom_delta",
    "build_bloom_shards_sized",
    "expand_sitemaps",
    "make_fetch_extract",
)
CATALOG_METHODS = ("write_table", "commit")
MULTIMODAL_TARGETS = ("decode_verify", "phash_neardup_pairs")

# engine job label (text after "crawl rN: ") -> layer
JOB_LABEL_LAYER = {
    None: "plans.crawl",
    "fast round": "plans.fastround",
    "global seq": "operators.frontier",
    "fetch+extract+pages-write": "operators.fetch",
    "bloom sidecar": "operators.seen.bloom",
    "expand+admit+frontier-write": "operators.seen",
}
_CRAWL_DESC = re.compile(r"^crawl r(\d+)(?:: (.*))?$")

# A trace adds up when per-job walls plus driver gap are within this
# much of the measured wall: the larger of an absolute floor (event
# log timestamps are whole milliseconds, and the operation window is
# taken on the driver around the call) and a share of the wall.
ACCOUNT_TOL_S = 0.05
ACCOUNT_TOL_FRAC = 0.02


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


@dataclass
class Spans:
    """In-memory span recorder; written out when the benchmark ends."""

    records: list[Span] = field(default_factory=list)
    op: int | None = None
    _stack: list[int] = field(default_factory=list)
    _restore: list[tuple[object, str, object]] = field(default_factory=list)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            parent = self._stack[-1] if self._stack else None
            self.records.append(Span(name, time.time(), parent=parent, op=self.op))
            idx = len(self.records) - 1
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self.records[idx].end = time.time()
                self._stack.pop()

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig))

    def install(self) -> None:
        """Wrap the crawl plan's engine calls (see module docstring)."""
        import wormpy_spark.operators.multimodal as mm
        import wormpy_spark.plans.crawl as crawl_mod
        from wormpy_spark.sources.catalog import SnapshotCatalog

        for attr in CRAWL_NAMESPACE_TARGETS:
            fn = getattr(crawl_mod, attr)
            mod = fn.__module__.removeprefix("wormpy_spark.")
            self.patch(crawl_mod, attr, f"{mod}.{attr}")
        for attr in CATALOG_METHODS:
            self.patch(SnapshotCatalog, attr, f"sources.catalog.{attr}")
        for attr in MULTIMODAL_TARGETS:
            self.patch(mm, attr, f"operators.multimodal.{attr}")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def totals(self, op: int) -> dict[str, dict]:
        """name -> {calls, total_s, self_s} over one operation's spans;
        self time is a span's duration minus what its children cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.records:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for i, s in enumerate(self.records):
            if s.op != op:
                continue
            d = out[s.name]
            d["calls"] += 1
            d["total_s"] += s.end - s.start
            d["self_s"] += s.end - s.start - child_s[i]
        return dict(out)

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.records]


def job_layer(desc: str | None) -> str:
    if desc is None:
        return "plans.crawl"
    m = _CRAWL_DESC.match(desc)
    if m is None:
        return "other"
    return JOB_LABEL_LAYER.get(m.group(2), "plans.crawl")


@dataclass
class Job:
    job_id: int
    start: float  # seconds since the epoch
    end: float
    desc: str | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    # stage id -> aggregated task metrics
    stages: dict[int, dict]


def read_event_log(path: str) -> EventLog:
    """Jobs (wall window, description, stages) and per-stage task
    totals from an uncompressed Spark event log."""
    starts: dict[int, dict] = {}
    ends: dict[int, float] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {
            "tasks": 0,
            "run_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
        }
    )
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                starts[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "desc": props.get("spark.job.description"),
                    "stages": list(ev.get("Stage IDs") or []),
                }
            elif kind == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_s"] += (m.get("Executor Run Time") or 0) / 1000.0
                st["gc_s"] += (m.get("JVM GC Time") or 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written") or 0
    jobs = [
        Job(jid, s["start"], ends[jid], s["desc"], s["stages"])
        for jid, s in sorted(starts.items())
        if jid in ends
    ]
    return EventLog(jobs, dict(stages))


def jobs_in(log: EventLog, t0: float, t1: float) -> list[Job]:
    """Jobs submitted inside the wall window [t0, t1]."""
    return [j for j in log.jobs if t0 <= j.start <= t1]


def exclusive_walls(jobs: list[Job], t0: float, t1: float) -> list[float]:
    """Each job's wall inside [t0, t1], with time during which several
    jobs ran (AQE stages and broadcasts run as concurrent jobs) given
    to the job that started first, so the walls never double-count."""
    out = [0.0] * len(jobs)
    order = sorted(range(len(jobs)), key=lambda i: (jobs[i].start, jobs[i].job_id))
    covered_to = t0
    for i in order:
        start = max(jobs[i].start, covered_to)
        end = min(jobs[i].end, t1)
        if end > start:
            out[i] = end - start
            covered_to = end
    return out


def account(jobs: list[Job], t0: float, t1: float) -> dict:
    """Split the window [t0, t1] into per-job walls and the driver gap
    (time covered by no job), and check the split: every job lies
    inside the window, and per-job walls plus gap equal the wall."""
    wall = t1 - t0
    walls = exclusive_walls(jobs, t0, t1)
    gap = 0.0
    frontier = t0
    for j in sorted(jobs, key=lambda j: j.start):
        gap += max(0.0, min(j.start, t1) - frontier)
        frontier = max(frontier, min(j.end, t1))
    gap += max(0.0, t1 - frontier)
    tol = max(ACCOUNT_TOL_S, ACCOUNT_TOL_FRAC * wall)
    outside = [j.job_id for j in jobs if j.start < t0 - tol or j.end > t1 + tol]
    residual = sum(walls) + gap - wall
    return {
        "wall_s": wall,
        "job_s": sum(walls),
        "overlap_s": sum(j.end - j.start for j in jobs) - sum(walls),
        "driver_gap_s": gap,
        "residual_s": residual,
        "jobs_outside": outside,
        "adds_up": abs(residual) <= tol and not outside,
    }


def layer_totals(log: EventLog, jobs: list[Job], t0: float, t1: float) -> dict[str, dict]:
    """layer -> exclusive job wall, task time, GC, shuffle bytes
    written, job count."""
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "job_s": 0.0,
            "task_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
        }
    )
    for j, wall in zip(jobs, exclusive_walls(jobs, t0, t1)):
        d = out[job_layer(j.desc)]
        d["jobs"] += 1
        d["job_s"] += wall
        for sid in j.stage_ids:
            st = log.stages.get(sid)
            if st is None:
                continue  # skipped stage: its output was reused
            d["task_s"] += st["run_s"]
            d["gc_s"] += st["gc_s"]
            d["shuffle_write_bytes"] += st["shuffle_write_bytes"]
    return dict(out)


def stage_task_counts(log: EventLog, jobs: list[Job]) -> tuple[int, int]:
    """(stages that ran tasks, tasks) over the given jobs."""
    n_stages = n_tasks = 0
    for j in jobs:
        for sid in j.stage_ids:
            st = log.stages.get(sid)
            if st is not None and st["tasks"]:
                n_stages += 1
                n_tasks += st["tasks"]
    return n_stages, n_tasks
