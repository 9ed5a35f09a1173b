"""Per-layer tracing for one crawl session, from outside the program.

`Tracer.installed()` swaps the public functions that `plans.crawl` and
`plans.content` call into each layer for wrappers that open a span, tag
the layer's Spark jobs with `setJobGroup`, and materialize (persist +
count) the DataFrame the layer returns inside the span: Spark is lazy, so
an unforced call would time nothing. `TracedCatalog` does the same for
the snapshot catalog. Task, shuffle, spill and GC counters come from the
Spark event log (`read_event_log`), joined to spans by job group.

A wave runs from the commit of the previous wave's lineage rows (or the
start of the `run_crawl` call) to the commit of its own; every span
carries the id of the wave it started in.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from axora_spark.catalog import SnapshotCatalog
from axora_spark.operators.frontier import SeenFilters

# (module, attribute, layer): the calls plans.crawl / plans.content make
# into each layer, looked up by name at call time
LAYER_FUNCS = (
    ("axora_spark.plans.crawl", "anti_join_seen", "frontier.antijoin"),
    ("axora_spark.plans.crawl", "dedup_within_wave", "frontier.dedup"),
    ("axora_spark.plans.crawl", "build_seen_filters",
     "frontier.seen_filter_build"),
    ("axora_spark.operators.politeness", "admit", "politeness.admit"),
    ("axora_spark.operators.robots", "robots_filter", "robots.filter"),
    ("axora_spark.plans.crawl", "fetch_from_corpus", "fetch"),
    ("axora_spark.operators.html", "parse_fetched_html", "html.parse"),
    ("axora_spark.plans.crawl", "links_from_fetched", "extract"),
    ("axora_spark.plans.content", "documents_from_fetched",
     "content.documents"),
    ("axora_spark.plans.content", "chunks_from_documents", "content.chunks"),
    ("axora_spark.plans.content", "vectors_from_chunks", "content.vectors"),
)

TRACE_GROUP = "trace"  # jobs the tracer itself launches (row counts)


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    wave: int
    t0: float
    t1: float = 0.0
    rows_in: int | None = None
    rows_out: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.layer}|{self.id}"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.wave = 0
        self._metrics_since_lineage = False
        self._held: list = []  # DataFrames persisted by wrappers this wave

    # ---------- spans ----------
    def _set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, layer: str):
        parent = self.stack[-1] if self.stack else None
        sp = Span(id=len(self.spans), parent=parent.id if parent else None,
                  layer=layer, wave=self.wave, t0=time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(TRACE_GROUP if layer == TRACE_GROUP else sp.group)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self.stack.pop()
            self._set_group(parent.group if parent else TRACE_GROUP)

    def side_jobs(self):
        """A span for jobs the tracer itself launches (row counts): its
        time is excluded from every layer's self time."""
        return self.span(TRACE_GROUP)

    # ---------- wave bookkeeping ----------
    def close_wave_if_lineage(self, table: str) -> None:
        if table == "metrics":
            self._metrics_since_lineage = True
        elif table == "lineage" and self._metrics_since_lineage:
            self._metrics_since_lineage = False
            self.wave += 1
            for df in self._held:
                df.unpersist()
            self._held.clear()

    # ---------- layer wrappers ----------
    def _materialize(self, out, sp: Span):
        if isinstance(out, DataFrame):
            out = out.persist()
            self._held.append(out)
            sp.rows_out.append(out.count())
        elif isinstance(out, SeenFilters):
            out.persist()
            self._held.append(out.df)
            sp.rows_out.append(out.df.count())
        elif isinstance(out, tuple):
            out = tuple(self._materialize(o, sp) for o in out)
        return out

    def _after(self, layer: str, sp: Span, out) -> None:
        """Layer-specific counts, taken outside the span."""
        if layer == "frontier.seen_filter_build":
            with self.side_jobs():
                sp.extra["filter_bytes"] = int(
                    out.df.agg(F.sum(F.length("filter"))).first()[0] or 0)
        elif layer == "fetch":
            with self.side_jobs():
                sp.extra["missing"] = out.filter(
                    F.col("http_status") != 200).count()
        elif layer == "html.parse":
            with self.side_jobs():
                sp.extra["parse_null"] = out.filter(
                    (F.col("http_status") == 200)
                    & F.col("body_md").isNull()).count()

    def _wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            rows_in = None
            if args and isinstance(args[0], DataFrame):
                with self.side_jobs():
                    rows_in = args[0].count()
            with self.span(layer) as sp:
                sp.rows_in = rows_in
                out = self._materialize(fn(*args, **kwargs), sp)
            self._after(layer, sp, out)
            return out
        return traced

    def wrap_sink(self, sink):
        def traced(spark, catalog, fetched, wave):
            with self.span("content.sink"):
                sink(spark, catalog, fetched, wave)
        return traced

    @contextlib.contextmanager
    def installed(self):
        """Patch every layer entry point for the duration of the block."""
        saved = []
        try:
            for mod_name, attr, layer in LAYER_FUNCS:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(orig, layer))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)
            for df in self._held:
                df.unpersist()
            self._held.clear()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


class TracedCatalog(SnapshotCatalog):
    """SnapshotCatalog whose public operations open catalog spans."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def read(self, spark, name, snapshot_id=None):
        with self.tracer.span("catalog.read") as sp:
            sid = snapshot_id if snapshot_id is not None \
                else self.current_snapshot(name)
            dirs = next((s["dirs"] for s in self.snapshots(name)
                         if s["id"] == sid), [])
            sp.extra = {"table": name, "dirs": len(dirs)}
            return super().read(spark, name, snapshot_id)

    def append(self, spark, name, df, skip_empty=False):
        with self.tracer.span("catalog.append") as sp:
            sp.extra = {"table": name}
            sid = super().append(spark, name, df, skip_empty=skip_empty)
        self.tracer.close_wave_if_lineage(name)
        return sid

    def overwrite(self, spark, name, df):
        with self.tracer.span("catalog.overwrite") as sp:
            sp.extra = {"table": name}
            return super().overwrite(spark, name, df)

    def merge_insert_if_absent(self, spark, name, df, key):
        with self.tracer.span("catalog.merge") as sp:
            sp.extra = {"table": name}
            return super().merge_insert_if_absent(spark, name, df, key)

    def compact(self, spark, name, n_files=None):
        with self.tracer.span("catalog.compact") as sp:
            sp.extra = {"table": name}
            return super().compact(spark, name, n_files)

    def rollback(self, name, snapshot_id):
        with self.tracer.span("catalog.rollback") as sp:
            sp.extra = {"table": name}
            return super().rollback(name, snapshot_id)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int
    failed: bool


def read_event_log(log_dir: str) -> tuple[dict, dict, list[Task]]:
    """(job id -> group, stage id -> group, tasks) from every event log
    under `log_dir` (uncompressed JSON lines; Spark 4 writes each
    application's log as a directory of rolled files)."""
    jobs: dict[int, str] = {}
    stages: dict[int, str] = {}
    tasks: list[Task] = []
    paths = sorted(os.path.join(d, fn) for d, _, files in os.walk(log_dir)
                   for fn in files if not fn.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(
                        sid, props.get("spark.jobGroup.id") or "")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(Task(
                        stage=ev["Stage ID"],
                        run_ms=int(m.get("Executor Run Time", 0)),
                        gc_ms=int(m.get("JVM GC Time", 0)),
                        shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                        spill=int(m.get("Memory Bytes Spilled", 0))
                        + int(m.get("Disk Bytes Spilled", 0)),
                        failed=(ev.get("Task End Reason") or {})
                        .get("Reason") != "Success"))
    return jobs, stages, tasks


def task_skew(tasks: list[Task]) -> float:
    """max ÷ median task run time (ms, median floored at 1 ms) in the
    stage with the most total run time; 1.0 when no stage has two or
    more tasks."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.run_ms)
    multi = [v for v in by_stage.values() if len(v) >= 2]
    if not multi:
        return 1.0
    heaviest = max(multi, key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / max(med, 1)


# ---------------------------------------------------------------------------
# Span arithmetic
# ---------------------------------------------------------------------------

def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.t0, s.t1))
    return {s.id: (s.t1 - s.t0) - _covered(kids[s.id]) for s in spans}
