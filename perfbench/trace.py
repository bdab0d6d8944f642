"""Spans and per-layer counts for the benchmark's traced run.

Everything here lives on the benchmark side of the package boundary:

- ``Tracer.wrap_layers`` swaps the public entry points of the ``sources``,
  ``sinks``, ``metadata`` and ``pipeline`` modules for timing wrappers, in
  every loaded module that holds a reference to them, and ``unwrap``
  puts the originals back;
- each span can tag the Spark jobs it starts with a job group
  ``<op>|<phase>``, so the event log splits jobs into read, build and
  exec phases;
- a ``StreamingQueryListener`` records stream drains, whose micro-batch
  jobs run on the stream thread without the caller's job group;
- after each op, ``probe_after`` counts cached frames, persistent RDDs
  and changed session SQL confs (the leak probe: it counts, it fixes
  nothing).

A span's self time is its duration minus the part of it its children
cover. Children always nest inside their parent and never overlap each
other, so the self times of one op's spans add up to the op's wall time.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field
from datetime import datetime

from pyspark.sql.streaming.listener import StreamingQueryListener

PACKAGE = "etl_pipeline_example_spark"

# (module, function, span name, job-group phase or None)
LAYER_ENTRY_POINTS = [
    (f"{PACKAGE}.sources.readers", "read_table", "sources", "read"),
    (f"{PACKAGE}.sources.readers", "read_jsonl", "sources", "read"),
    (f"{PACKAGE}.sources.readers", "read_events_stream", "sources", "read"),
    (f"{PACKAGE}.sinks.writers", "write_curated", "sinks", "write"),
    (f"{PACKAGE}.sinks.writers", "write_jsonl_gz", "sinks", "write"),
    (f"{PACKAGE}.metadata.align", "align_df_to_meta", "metadata", None),
    (f"{PACKAGE}.pipeline.extract", "extract_to_land", "pipeline", "extract"),
    (f"{PACKAGE}.pipeline.validate", "validate_landed", "pipeline", "validate"),
    (f"{PACKAGE}.pipeline.zones", "promote_to_raw_distributed", "pipeline", "promote"),
    (f"{PACKAGE}.pipeline.catalog", "deploy_database", "pipeline", "deploy"),
]


@dataclass
class Span:
    id: int
    name: str
    key: str
    start: float
    end: float
    parent: int | None
    children: list[int] = field(default_factory=list)


class NullTracer:
    """Stands in for ``Tracer`` in timed runs: every hook does nothing."""

    def span(self, name: str, key: str | None = None, group: str | None = None):
        return nullcontext()

    def probe_before(self) -> None:
        pass

    def probe_after(self, key: str, df=None) -> None:
        pass


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.drains: list[tuple[float, float]] = []
        self.batches = 0
        self.input_rows = 0

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started[str(event.runId)] = _iso_epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        with self.lock:
            self.batches += 1
            self.input_rows += event.progress.numInputRows

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        end = time.time()
        with self.lock:
            start = self.started.pop(str(event.runId), None)
            if start is not None:
                self.drains.append((start, end))


class Tracer:
    """Collects spans and counts for one traced pass over a workload."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.key = ""
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._confs: dict[str, str] = {}
        self._rdds = 0
        self.probes: dict[str, dict[str, int]] = {}
        self.listener = _StreamListener()

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, key: str | None = None, group: str | None = None):
        if key is not None:
            self.key = key
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.key, time.time(), 0.0, parent)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        self._stack.append(s.id)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id") if group else None
        if group:
            self.sc.setJobGroup(f"{self.key}|{group}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if group:
                if prev_group:
                    self.sc.setJobGroup(prev_group, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add_span(self, name: str, start: float, end: float, parent: Span) -> None:
        """Insert an interval measured elsewhere (listener, Catalyst) under
        ``parent``, trimmed to fit inside it and beside its children."""
        start, end = max(start, parent.start), min(end, parent.end)
        for cid in parent.children:
            c = self.spans[cid]
            if c.end <= start or c.start >= end:
                continue
            if c.start <= start:
                start = c.end
            else:
                end = c.start
        if end <= start:
            return
        s = Span(len(self.spans), name, parent.key, start, end, parent.id)
        self.spans.append(s)
        parent.children.append(s.id)

    # -- layer wrappers ------------------------------------------------
    def _wrapper(self, fn, name: str, group: str | None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.counts[f"{name}.{fn.__name__}"] += 1
            with self.span(name, group=group):
                return fn(*args, **kwargs)

        return traced

    def wrap_layers(self) -> None:
        for mod_name, fn_name, name, group in LAYER_ENTRY_POINTS:
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrapper(original, name, group)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if not (mname.startswith(PACKAGE) or mname == "__spark_entry__"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is original:
                        setattr(mod, attr, wrapped)
                        self._patched.append((mod, attr, original))
        self.spark.streams.addListener(self.listener)

    def unwrap(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()
        self.spark.streams.removeListener(self.listener)

    # -- leak probe ----------------------------------------------------
    def _cached_frames(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field_ = cm.getClass().getDeclaredField("cachedData")
        field_.setAccessible(True)
        return int(field_.get(cm).size())

    def _persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def probe_before(self) -> None:
        self._confs = dict(self.spark.conf.getAll)
        self._rdds = self._persistent_rdds()

    def probe_after(self, key: str, df=None) -> None:
        """Count what ``key`` left behind, then add its Catalyst phases.

        ``live_frames``: cached frames the key left registered;
        ``live_rdds``: persistent RDDs alive after it and ``clearCache()``;
        ``added_rdds``: how many of those it added (< 0 when it released
        earlier ones); ``conf_changes``: session SQL confs that differ
        from before the key."""
        frames = self._cached_frames()
        self.spark.catalog.clearCache()
        after = dict(self.spark.conf.getAll)
        rdds = self._persistent_rdds()
        probe = {
            "live_frames": frames,
            "live_rdds": rdds,
            "added_rdds": rdds - self._rdds,
            "conf_changes": sum(
                1 for k in set(self._confs) | set(after) if self._confs.get(k) != after.get(k)
            ),
        }
        self.probes[key] = probe
        self.counts["probe.live_frames"] += frames
        self.counts["probe.leaked_rdds"] += max(probe["added_rdds"], 0)
        self.counts["probe.conf_changes"] += probe["conf_changes"]
        if df is not None:
            self._add_catalyst(key, df)

    def _add_catalyst(self, key: str, df) -> None:
        by_name = {s.name: s for s in self.spans if s.key == key and s.name in ("build", "exec")}
        phases = df._jdf.queryExecution().tracker().phases().iterator()
        while phases.hasNext():
            entry = phases.next()
            summary = entry._2()
            # analysis runs when the final frame is built, the rest inside
            # the action
            parent = by_name.get("build" if entry._1() in ("parsing", "analysis") else "exec")
            if parent is not None:
                self.add_span(
                    f"catalyst.{entry._1()}",
                    summary.startTimeMs() / 1000.0,
                    summary.endTimeMs() / 1000.0,
                    parent,
                )

    def add_stream_spans(self) -> None:
        """Place each recorded stream drain under the build span it ran in."""
        with self.listener.lock:
            drains = list(self.listener.drains)
        builds = [s for s in self.spans if s.name == "build"]
        for start, end in drains:
            mid = (start + end) / 2
            for b in builds:
                if b.start <= mid <= b.end:
                    self.add_span("streaming", start, end, b)
                    break

    # -- reporting -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        out = {}
        for s in self.spans:
            covered = _union([(self.spans[c].start, self.spans[c].end) for c in s.children])
            out[s.id] = (s.end - s.start) - covered
        return out

    def self_by_layer(self) -> dict[str, float]:
        totals: Counter = Counter()
        for sid, t in self.self_times().items():
            totals[self.spans[sid].name] += t
        return dict(totals)

    def op_residuals(self, op_name: str) -> dict[str, float]:
        """Per op: wall minus the sum of its spans' self times (0 when the
        span tree accounts for every instant of the op)."""
        selfs = self.self_times()
        out = {}
        for s in self.spans:
            if s.name != op_name:
                continue
            total, todo = 0.0, [s.id]
            while todo:
                sid = todo.pop()
                total += selfs[sid]
                todo.extend(self.spans[sid].children)
            out[s.key] = (s.end - s.start) - total
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        spans = [
            {**{k: v for k, v in asdict(s).items() if k != "children"}, "self_s": selfs[s.id]}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(
                {**extra, "probes": self.probes, "counts": dict(self.counts), "spans": spans},
                fh, indent=1,
            )


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    return _union([(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi])


# -- event log -------------------------------------------------------------
@dataclass
class Job:
    id: int
    group: str
    start: float
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages_run: set[int] = field(default_factory=set)
    tasks: Counter = field(default_factory=Counter)  # per stage
    busy_ms: Counter = field(default_factory=Counter)
    shuffle_read: Counter = field(default_factory=Counter)
    shuffle_write: Counter = field(default_factory=Counter)
    spill: Counter = field(default_factory=Counter)


def read_event_log(event_dir: str, app_id: str) -> EventLog:
    """Parse the (closed) event log of ``app_id`` under ``event_dir``."""
    names = [n for n in os.listdir(event_dir) if app_id in n]
    if not names:
        raise FileNotFoundError(f"no event log for {app_id} in {event_dir}")
    path = os.path.join(event_dir, names[0])
    files = (
        [os.path.join(path, p) for p in sorted(os.listdir(path)) if not p.startswith("appstatus")]
        if os.path.isdir(path) else [path]
    )
    log = EventLog()
    for fname in files:
        with open(fname) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id") or "",
                        ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0,
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    log.stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    log.tasks[sid] += 1
                    log.busy_ms[sid] += m.get("Executor Run Time", 0)
                    log.shuffle_read[sid] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    log.shuffle_write[sid] += sw.get("Shuffle Bytes Written", 0)
                    log.spill[sid] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return log
