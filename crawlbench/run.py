"""Crawl-session benchmark of record.

    python3 crawlbench/run.py --workload frontier_heavy --seed 1 \
        --seconds 30 --trace 0

Runs whole crawl sessions through `plans.crawl.run_crawl` on
`local[nproc]`: one driver process, one session at a time, a closed loop
with a single client. A session crashes mid-wave (the benchmark's content sink
raises once wave CRASH_WAVE has committed its admitted and seen rows),
then resumes to completion on the same warehouse, and its
outputs are checked against the pure-Python oracles of the uninterrupted
crawl. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs a warm-up session, a traced session
and an untraced one, and reports the per-layer metrics (see crawlbench/README.md). The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. A full record (host, sessions, spans) is written under
`.crawlbench/results/`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".crawlbench")
sys.path[0] = ROOT  # import crawlbench.* and axora_spark from the checkout

import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from axora_spark.catalog import SnapshotCatalog  # noqa: E402
from axora_spark.plans import content, crawl  # noqa: E402
from axora_spark.session import get_spark  # noqa: E402
from crawlbench import check  # noqa: E402
from crawlbench import trace as tr  # noqa: E402
from crawlbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "session_s": "s",
    "pages_per_s": "pages/s",
    "urls_per_s": "URLs/s",
    "wave_s_p50": "s",
    "storage_bytes_per_page": "B/page",
}

PER_LAYER = {
    "crawl.waves": "count",
    "crawl.spark_jobs_per_wave": "jobs/wave",
    "crawl.driver_self_s": "s",
    "crawl.resume_s": "s",
    "frontier.dedup_s": "s",
    "frontier.dedup_rows_in": "rows",
    "frontier.dedup_rows_out": "rows",
    "frontier.antijoin_s": "s",
    "frontier.antijoin_rows_in": "rows",
    "frontier.antijoin_rows_out": "rows",
    "frontier.seen_filter_build_s": "s",
    "frontier.seen_filter_bytes": "B",
    "frontier.shuffle_bytes": "B",
    "frontier.task_skew": "ratio",
    "politeness.admit_s": "s",
    "politeness.admitted": "rows",
    "politeness.deferred": "rows",
    "politeness.task_skew": "ratio",
    "politeness.shuffle_bytes": "B",
    "robots.filter_s": "s",
    "robots.dropped": "rows",
    "fetch.s": "s",
    "fetch.pages": "pages",
    "fetch.missing_share": "ratio",
    "html.parse_s": "s",
    "html.pages": "pages",
    "html.parse_null": "pages",
    "extract.s": "s",
    "extract.links_out": "rows",
    "content.documents_s": "s",
    "content.chunks_s": "s",
    "content.vectors_s": "s",
    "content.docs": "docs",
    "content.chunks": "chunks",
    "content.doc_yield": "ratio",
    "catalog.append_s": "s",
    "catalog.overwrite_s": "s",
    "catalog.merge_s": "s",
    "catalog.compact_s": "s",
    "catalog.rollback_s": "s",
    "catalog.commits_per_wave": "commits/wave",
    "catalog.files_written": "files",
    "catalog.bytes_written": "B",
    "catalog.seen_dirs_read": "dirs",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

SETUP_REPEATS = 3
CRASH_WAVE = 1  # both workloads run two waves: crash in the second
UNTRACED_GROUP = "session|untraced"


# ---------------------------------------------------------------------------
# Host sizing
# ---------------------------------------------------------------------------

def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_host(work: str) -> dict:
    """Size the Spark session to this host; every scratch path stays
    inside `work`."""
    nproc = len(os.sched_getaffinity(0))
    ram = _ram_mb()
    driver_mb = min(4096, ram // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "AXORA_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "AXORA_WAREHOUSE": os.path.join(work, "sql-warehouse"),
        "TMPDIR": tmp,
        # no JVM perf-data file in the system /tmp either
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp}"
                              " -XX:-UsePerfData").strip(),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    return {"nproc": nproc, "ram_mb": ram, "driver_mem_mb": driver_mb,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0]}


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for it to exit."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the driver JVM status")


# ---------------------------------------------------------------------------
# One session
# ---------------------------------------------------------------------------

def _disk(root: str) -> tuple[int, int, int]:
    """(bytes of every file, data files, bytes of data files) under root."""
    total = n_parts = part_bytes = 0
    for d, _, files in os.walk(root):
        for fn in files:
            size = os.path.getsize(os.path.join(d, fn))
            total += size
            if fn.startswith("part-"):
                n_parts += 1
                part_bytes += size
    return total, n_parts, part_bytes


class InjectedCrash(Exception):
    """Raised from the content sink to crash a session mid-wave."""


def run_session(spark, wl, corpus, exp, wh: str, tracer=None) -> dict:
    """Crash in wave CRASH_WAVE, resume to completion, check."""
    marks: list[tuple[int, float]] = []  # (call index, wave-start time)
    calls: list[float] = []
    sink_body = content.make_content_sink(wl.cfg) if wl.content else None
    if tracer is not None and sink_body is not None:
        sink_body = tracer.wrap_sink(sink_body)

    def sink(s, catalog, fetched, wave):
        marks.append((len(calls) - 1, time.perf_counter()))
        if len(calls) == 1 and wave == CRASH_WAVE:
            raise InjectedCrash
        if sink_body is not None:
            sink_body(s, catalog, fetched, wave)

    catalog = tr.TracedCatalog(wh, tracer) if tracer is not None \
        else SnapshotCatalog(wh)
    common = dict(robots_txt=wl.robots_txt, content_sink=sink,
                  compact_every=wl.compact_every,
                  bloom_threshold=wl.bloom_threshold)
    runs = []
    crashed = False
    t0 = time.perf_counter()
    for resume in (False, True):
        calls.append(time.perf_counter())
        span = tracer.span("crawl.run_crawl") if tracer is not None \
            else contextlib.nullcontext()
        try:
            with span:
                runs.append(crawl.run_crawl(spark, catalog, wl.cfg, corpus,
                                            resume=resume, **common))
        except InjectedCrash:
            crashed = True
    session_s = time.perf_counter() - t0

    spark.sparkContext.setJobGroup("check", "check")
    plain = SnapshotCatalog(wh)
    got = check.collect(spark, plain, wl.content)
    bad = check.mismatches(got, exp)
    if not check.self_check(got, exp):
        bad.append("self-check")
    # URL rows entering the frontier before dedup, over committed waves:
    # rows U1 + J1 removed, plus the rows each wave's frontier kept
    deduped = plain.read(spark, "metrics").agg(F.sum("deduped")).first()[0]
    kept = (plain.read(spark, "lineage")
            .filter((F.col("table") == "frontier") & (F.col("wave") >= 0))
            .agg(F.sum("n_rows")).first()[0])
    snapshots = sum(len(plain.snapshots(t)) for t in os.listdir(wh)
                    if plain.table_exists(t))
    total, n_parts, part_bytes = _disk(wh)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    gaps = [b - a for (ca, a), (cb, b) in zip(marks, marks[1:]) if ca == cb]
    resumed = [t for c, t in marks if c == 1]
    if not (crashed and resumed):
        bad.append("crash-resume")
    pages = len(got["admitted"])
    return {
        "ok": not bad, "mismatches": bad,
        "session_s": session_s,
        "resume_s": resumed[0] - calls[1] if resumed else None,
        "wave_gaps": gaps,
        "waves": runs[-1].waves_run,
        "pages": pages,
        "urls_in": int(deduped or 0) + int(kept or 0),
        "storage_bytes": total,
        "snapshots": snapshots,
        "part_files": n_parts,
        "part_bytes": part_bytes,
    }


def e2e_metrics(sessions: list[dict], setup_times: list[float]) -> dict:
    med = statistics.median
    return {
        "setup_s": med(setup_times),
        "session_s": med(s["session_s"] for s in sessions),
        "pages_per_s": med(s["pages"] / s["session_s"] for s in sessions),
        "urls_per_s": med(s["urls_in"] / s["session_s"] for s in sessions),
        "wave_s_p50": med(g for s in sessions for g in s["wave_gaps"]),
        "storage_bytes_per_page": med(s["storage_bytes"] / s["pages"]
                                      for s in sessions),
    }


# ---------------------------------------------------------------------------
# Per-layer metrics (traced run)
# ---------------------------------------------------------------------------

def layer_metrics(tracer, untraced: dict, traced: dict, events_dir: str,
                  rss_mb: float) -> tuple[dict, dict]:
    spans = tracer.spans
    self_t = tr.self_times(spans)
    by_layer: dict[str, list] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    def self_s(layer):
        return sum(self_t[s.id] for s in by_layer.get(layer, []))

    def out(layer, i=0):
        return sum(s.rows_out[i] for s in by_layer.get(layer, []))

    def rows_in(layer):
        return sum(s.rows_in or 0 for s in by_layer.get(layer, []))

    def extra(layer, key):
        return sum(s.extra.get(key, 0) for s in by_layer.get(layer, []))

    jobs, stages, tasks = tr.read_event_log(events_dir)
    stage_layer = {sid: g.split("|")[0] for sid, g in stages.items()}
    layer_tasks: dict[str, list] = {}
    for t in tasks:
        layer_tasks.setdefault(stage_layer.get(t.stage, ""), []).append(t)

    def tasks_of(prefix):
        return [t for layer, ts in layer_tasks.items()
                if layer.startswith(prefix) for t in ts]

    def shuffle(prefix):
        return sum(t.shuffle_write for t in tasks_of(prefix))

    untraced_tasks = [t for t in tasks
                      if stages.get(t.stage) == UNTRACED_GROUP]
    waves = traced["waves"]
    pages = out("fetch")
    docs = out("content.documents")
    m = {
        "crawl.waves": waves,
        "crawl.spark_jobs_per_wave":
            sum(1 for g in jobs.values() if g == UNTRACED_GROUP)
            / untraced["waves"],
        "crawl.driver_self_s": self_s("crawl.run_crawl"),
        "crawl.resume_s": untraced["resume_s"],
        "frontier.dedup_s": self_s("frontier.dedup"),
        "frontier.dedup_rows_in": rows_in("frontier.dedup"),
        "frontier.dedup_rows_out": out("frontier.dedup"),
        "frontier.antijoin_s": self_s("frontier.antijoin"),
        "frontier.antijoin_rows_in": rows_in("frontier.antijoin"),
        "frontier.antijoin_rows_out": out("frontier.antijoin"),
        "frontier.seen_filter_build_s": self_s("frontier.seen_filter_build"),
        "frontier.seen_filter_bytes":
            extra("frontier.seen_filter_build", "filter_bytes"),
        "frontier.shuffle_bytes": shuffle("frontier."),
        "frontier.task_skew": tr.task_skew(tasks_of("frontier.")),
        "politeness.admit_s": self_s("politeness.admit"),
        "politeness.admitted": out("politeness.admit", 0),
        "politeness.deferred": out("politeness.admit", 1),
        "politeness.task_skew": tr.task_skew(tasks_of("politeness.")),
        "politeness.shuffle_bytes": shuffle("politeness."),
        "robots.filter_s": self_s("robots.filter"),
        "robots.dropped": rows_in("robots.filter") - out("robots.filter"),
        "fetch.s": self_s("fetch"),
        "fetch.pages": pages,
        "fetch.missing_share": extra("fetch", "missing") / pages
        if pages else 0.0,
        "html.parse_s": self_s("html.parse"),
        "html.pages": out("html.parse"),
        "html.parse_null": extra("html.parse", "parse_null"),
        "extract.s": self_s("extract"),
        "extract.links_out": out("extract"),
        "content.documents_s": self_s("content.documents"),
        "content.chunks_s": self_s("content.chunks"),
        "content.vectors_s": self_s("content.vectors"),
        "content.docs": docs,
        "content.chunks": out("content.chunks"),
        "content.doc_yield": docs / rows_in("content.documents")
        if docs else 0.0,
        "catalog.append_s": self_s("catalog.append"),
        "catalog.overwrite_s": self_s("catalog.overwrite"),
        "catalog.merge_s": self_s("catalog.merge"),
        "catalog.compact_s": self_s("catalog.compact"),
        "catalog.rollback_s": self_s("catalog.rollback"),
        "catalog.commits_per_wave": traced["snapshots"] / waves,
        "catalog.files_written": traced["part_files"],
        "catalog.bytes_written": traced["part_bytes"],
        "catalog.seen_dirs_read": sum(
            s.extra.get("dirs", 0) for s in by_layer.get("catalog.read", [])
            if s.extra.get("table") == "seen"),
        "spark.tasks": len(untraced_tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write
                                         for t in untraced_tasks),
        "spark.spill_bytes": sum(t.spill for t in untraced_tasks),
        "spark.failed_tasks": sum(t.failed for t in untraced_tasks),
        "spark.gc_s": sum(t.gc_ms for t in untraced_tasks) / 1000.0,
        "spark.peak_rss_mb": rss_mb,
        "trace.overhead_s": traced["session_s"] - untraced["session_s"],
    }
    groups: dict[str, dict] = {}
    for t in tasks:
        g = groups.setdefault(stages.get(t.stage, ""), {
            "tasks": 0, "run_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "gc_s": 0.0, "failed_tasks": 0})
        g["tasks"] += 1
        g["run_s"] += t.run_ms / 1000.0
        g["shuffle_write_bytes"] += t.shuffle_write
        g["spill_bytes"] += t.spill
        g["gc_s"] += t.gc_ms / 1000.0
        g["failed_tasks"] += int(t.failed)
    detail = {
        "spans": [dict(vars(s), self_s=self_t[s.id]) for s in spans],
        "self_s_by_layer": {layer: self_s(layer) for layer in by_layer},
        "job_groups": groups,
    }
    return m, detail


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------

def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = configure_host(work)
    events = os.path.join(work, "events")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false"})

    spark = None
    try:
        # set-up: session start, input generation, corpus write, oracle
        setup_times = []
        for rep in range(1 if args.trace else SETUP_REPEATS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark("crawlbench", extra_conf=conf)
            wl = WORKLOADS[args.workload](args.seed)
            path = os.path.join(work, f"corpus-{rep}")
            rows = pd.DataFrame(wl.corpus_rows,
                                columns=wl.corpus_schema.names)
            spark.createDataFrame(rows, wl.corpus_schema).write.parquet(path)
            corpus = spark.read.parquet(path)
            exp = check.expected(wl)
            setup_times.append(time.perf_counter() - t0)
        host["java"] = spark.sparkContext._jvm.System.getProperty(
            "java.version")

        counter_ok = True
        if wl.content:
            host["token_counter"] = check.counter_name(wl.cfg.tokenizer)
            counter_ok = (host["token_counter"]
                          == check.EXPECTED_COUNTER[wl.cfg.tokenizer])

        sessions: list[dict] = []
        attempted = n_failed = 0

        def attempt(tracer=None):
            nonlocal attempted, n_failed
            attempted += 1
            wh = os.path.join(work, f"warehouse-{attempted}")
            try:
                s = run_session(spark, wl, corpus, exp, wh, tracer)
            except Exception:
                traceback.print_exc()
                n_failed += 1
                return None
            finally:
                shutil.rmtree(wh, ignore_errors=True)
            if not (s["ok"] and counter_ok):
                n_failed += 1
                print("session failed the oracle check:",
                      s["mismatches"] or ["token-counter"], file=sys.stderr)
            sessions.append(s)
            return s

        detail: dict = {}
        if not args.trace:
            t_start = time.perf_counter()
            while True:
                if attempt() is None:
                    break
                elapsed = time.perf_counter() - t_start
                if elapsed * (1 + 1 / len(sessions)) > args.seconds:
                    break
            good = [s for s in sessions if s["ok"]]
            metrics = e2e_metrics(good, setup_times) if good else {}
            units = END_TO_END
        else:
            # a first session warms the JVM, so that the traced session
            # and the untraced one it is compared with both run warm
            tracer = tr.Tracer(spark)
            traced = untraced = None
            if attempt() is not None:
                with tracer.installed():
                    traced = attempt(tracer)
            if traced is not None:
                spark.sparkContext.setJobGroup(UNTRACED_GROUP, UNTRACED_GROUP)
                untraced = attempt()
            rss = jvm_peak_rss_mb()
            stop_spark(spark)
            spark = None
            metrics, units = {}, PER_LAYER
            if untraced is not None:
                metrics, detail = layer_metrics(tracer, untraced, traced,
                                                events, rss)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = attempted > 0 and n_failed == 0 and bool(metrics)
    result = {
        "correct": correct, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    record = dict(result, workload=args.workload, seed=args.seed,
                  trace=args.trace, seconds=args.seconds, host=host,
                  setup_times=setup_times,
                  sessions=sessions,
                  **detail)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    rec_path = os.path.join(
        OUT, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# host {json.dumps(host, sort_keys=True)}")
    if sessions:
        waves = sessions[-1]["waves"]
        gaps = sum(len(s["wave_gaps"]) for s in sessions)
        print(f"# {args.workload} seed={args.seed}: {len(sessions)} "
              f"session(s), {waves} waves each, {gaps} wave gaps")
    for k, v in result["metrics"].items():
        print(f"# {k:32s} {v['value']:.6g} {v['unit']}")
    print(f"# record {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
