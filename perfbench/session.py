"""One session process: set up, run the workload, check, report.

Started by ``run.py`` with a spec file; writes its result as JSON to the
path the spec names. ``setup_s`` runs from the parent's spawn time to a
warm session: interpreter start, imports, JVM launch with the pinned
configuration (``session.get_spark``), a first SQL job and one Python
worker forked per core.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start(spawn_time: float):
    """Start and warm the session; returns (spark, setup figures)."""
    from train_reports_etl_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism
    spark.range(10).count()
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()
    t2 = time.time()
    return spark, {
        "setup_s": t2 - spawn_time,
        "jvm_start_s": t1 - t0,
        "warmup_s": t2 - t1,
    }


def stop(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a hung JVM is killed, never left behind
            proc.kill()
            proc.wait()


def files_since(root: str, since: float) -> tuple[int, int]:
    """Files under ``root`` modified at or after ``since`` (epoch
    seconds), and their bytes."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


# ----------------------------------------------------------- passes


class ReportEtl:
    """Run + re-run of ``run_reports`` into one output root."""

    def __init__(self, spark, spec):
        from perfbench import workloads

        self.w = workloads
        self.spark = spark
        self.inbox = spec["inbox"]
        self.expected = spec["expected"]
        self.out = Path(spec["work"]) / "out"
        self.dim = workloads.dep_dim(spark)

    def _pass(self, root: str, rec, label: str) -> tuple[dict, object, dict]:
        w = self.w
        t_wall = time.time()
        t0 = time.perf_counter()
        with rec.span(label, "bench"):
            summary, ops, ranges, cached = w.report_pass(self.spark, self.inbox, root, rec, self.dim)
        wall = time.perf_counter() - t0
        for df in cached:
            df.unpersist()
        files, size = files_since(root, t_wall)
        return ({"wall_s": wall, "op_s": list(ops.values()),
                 "attempted": len(w.REPORTS) * len(w.SINK_OPS),
                 "files_written": files, "bytes_written": size},
                summary, ranges)

    def iteration(self, k: int, rec, rerun: bool = True) -> dict:
        w = self.w
        root = str(self.out / f"it{k}")
        run, summary, ranges = self._pass(root, rec, "run")
        bad, seen = w.check_report_run(summary, ranges, root, self.expected)
        run["failed"] = sorted(f"{r}.{op}" for r, op in bad)
        run["rows"] = seen
        if not rerun:
            return {"run": run}
        states = w.table_states(root)
        again, summary, _ = self._pass(root, rec, "rerun")
        bad, again["rows"] = w.check_report_rerun(
            summary, root, states, sum(len(v) for v in ranges.values()), seen)
        again["failed"] = sorted(f"{r}.{op}" for r, op in bad)
        return {"run": run, "rerun": again}


class Catalog:
    """Run from empty stores, then re-run with the stores built."""

    def __init__(self, spark, spec):
        import pandas as pd

        from perfbench import workloads

        self.w = workloads
        self.spark = spark
        self.tables = spec["tables"]
        # Pickles the parent process wrote from the DuckDB oracles.
        self.oracles = {n: None if p is None else pd.read_pickle(p)
                        for n, p in spec["oracles"].items()}
        self.stores = workloads.store_builders(spark, self.tables)

    def _pass(self, rec, label: str) -> dict:
        t0 = time.perf_counter()
        with rec.span(label, "bench"):
            secs, results = self.w.catalog_pass(self.spark, self.tables, rec, self.stores)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "op_s": list(secs.values()), "attempted": len(secs),
                "failed": self.w.check_catalog(results, self.oracles)}

    def iteration(self, k: int, rec, rerun: bool = True) -> dict:
        from train_reports_etl_spark.extensions import store

        store.clear(self.spark)
        it = {"run": self._pass(rec, "run")}
        if rerun:
            it["rerun"] = self._pass(rec, "rerun")
        return it


# ------------------------------------------------------------- trace


@contextlib.contextmanager
def traced_sources(rec, counts: dict):
    """Wrap the ``report_reader`` entry points ``run_reports`` imports at
    call time, count the row tiers they plan, and count driver-side
    calls into ``xlsx_lite``. Restored on exit."""
    from train_reports_etl_spark.sources import report_reader, xlsx_lite

    def counting(fn, key, size=None):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            counts[key] += size(out) if size else 1
            return out

        return wrapped

    saved = []

    def patch(mod, name, new):
        saved.append((mod, name, getattr(mod, name)))
        setattr(mod, name, new)

    patch(report_reader, "discover_reports", counting(
        rec.wrap(report_reader.discover_reports, "discover_reports", "sources.discover"),
        "sheets", lambda found: sum(len(v) for v in found.values())))
    patch(report_reader, "read_report",
          rec.wrap(report_reader.read_report, "read_report", "sources.read"))
    # Workbook rows read while sniffing belong to discovery; the rest
    # (run_reports' header probe, read planning) to reading.
    engine_rows = report_reader._engine_rows

    def traced_rows(*args, **kwargs):
        top = rec.current()
        layer = top.layer if top and top.layer.startswith("sources.") else "sources.read"
        with rec.span("engine_rows", layer, spark_counters=False):
            yield from engine_rows(*args, **kwargs)

    patch(report_reader, "_engine_rows", traced_rows)
    patch(report_reader, "tier_plan", counting(report_reader.tier_plan, "read_tasks", len))
    for name in ("iter_rows", "sheet_names", "sheet_max_row"):
        patch(xlsx_lite, name, counting(getattr(xlsx_lite, name), "driver_opens"))
    try:
        yield
    finally:
        for mod, name, fn in reversed(saved):
            setattr(mod, name, fn)


def layer_metrics(spark, rec, streams, counts: dict, it: dict,
                  unattributed: int) -> tuple[dict, dict]:
    """Per-layer metrics of one traced iteration (run and re-run), and
    the self time of every layer, which adds up to the traced walls."""
    from perfbench.trace import job_stats, self_times

    tracker = spark.sparkContext.statusTracker()
    selfs = self_times(rec.spans)
    kids = defaultdict(list)
    for s in rec.spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    by_layer = defaultdict(float)  # self time per span layer
    busy = defaultdict(float)  # ... and per family ("sinks" for "sinks.load")
    jobs = defaultdict(list)
    mb = defaultdict(float)
    for s in rec.spans:
        family = s.layer.split(".")[0]
        by_layer[s.layer] += selfs[s.sid]
        busy[family] += selfs[s.sid]
        if s.grouped:
            jobs[family] += list(tracker.getJobIdsForGroup(rec.group(s.sid)))
            for key in ("shuffle_write", "input", "stored"):
                own = s.totals[key] - sum(c.totals.get(key, 0.0) for c in kids[s.sid])
                mb[(family, key)] += own / 1e6
    stream_totals = streams.totals()
    jobs["streaming"] += [j for run in streams.started for j in tracker.getJobIdsForGroup(run)]
    stats = {fam: job_stats(spark, ids) for fam, ids in jobs.items()}

    def st(fam, key):
        return stats.get(fam, {}).get(key, 0)

    passes = (it["run"], it["rerun"])
    accounting = {"traced_wall_s": sum(p["wall_s"] for p in passes),
                  "self_s_by_layer": dict(by_layer)}
    rows = defaultdict(int)
    for p in passes:
        for r in p.get("rows", {}).values():
            for k, v in r.items():
                rows[k] += v or 0
    m = {
        "sources.discover_s": by_layer["sources.discover"],
        "sources.read_s": by_layer["sources.read"],
        "sources.rows_read": rows["clean"] + rows["err"] + rows["dup"],
        "sources.read_tasks": counts["read_tasks"],
        "sources.driver_opens_per_sheet": (
            counts["driver_opens"] / counts["sheets"] if counts["sheets"] else 0.0),
        "report_pipelines.busy_s": busy["report_pipelines"],
        "report_pipelines.spark_jobs": st("report_pipelines", "jobs"),
        "report_pipelines.stages": st("report_pipelines", "stages"),
        "report_pipelines.shuffle_write_mb": mb[("report_pipelines", "shuffle_write")],
        "report_pipelines.rows_clean": rows["clean"],
        "report_pipelines.rows_err": rows["err"],
        "report_pipelines.rows_dup": rows["dup"],
        "sinks.quarantine_s": by_layer["sinks.quarantine"],
        "sinks.load_s": by_layer["sinks.load"],
        "sinks.audit_s": by_layer["sinks.audit"],
        "sinks.files_written": sum(p.get("files_written", 0) for p in passes),
        "sinks.bytes_written": sum(p.get("bytes_written", 0) for p in passes),
        "sinks.spark_jobs": st("sinks", "jobs"),
        "star_queries.busy_s": busy["star_queries"],
        "star_queries.spark_jobs": st("star_queries", "jobs"),
        "star_queries.stages": st("star_queries", "stages"),
        "star_queries.tasks": st("star_queries", "tasks"),
        "star_queries.shuffle_write_mb": mb[("star_queries", "shuffle_write")],
        "star_queries.input_mb": mb[("star_queries", "input")],
        "store.build_s": busy["store"],
        "store.spark_jobs": st("store", "jobs"),
        "store.stages": st("store", "stages"),
        "store.input_mb": mb[("store", "input")],
        "store.cached_mb": mb[("store", "stored")],
        "extensions.busy_s": busy["extensions"],
        "extensions.spark_jobs": st("extensions", "jobs"),
        "extensions.stages": st("extensions", "stages"),
        "extensions.tasks": st("extensions", "tasks"),
        "extensions.shuffle_write_mb": mb[("extensions", "shuffle_write")],
        "extensions.failed_tasks": st("extensions", "failed_tasks"),
        "streaming.busy_s": busy["streaming"],
        "streaming.micro_batches": stream_totals["micro_batches"],
        "streaming.input_rows": stream_totals["input_rows"],
        "streaming.state_rows": stream_totals["state_rows"],
        "streaming.state_memory_mb": stream_totals["state_memory_mb"],
        "streaming.spark_jobs": st("streaming", "jobs"),
        "run_summary.self_s": busy["run_summary"],
        "bench.self_s": busy["bench"],
        "spark.jobs_unattributed": unattributed,
    }
    return m, accounting


def traced_iteration(spark, workload, k: int, spec: dict, result: dict) -> dict:
    """Run iteration ``k`` traced; its per-layer metrics go to
    ``result["layers"]`` and its spans to ``spans.jsonl``."""
    from perfbench.trace import Recorder, StreamCounter

    rec = Recorder(f"s{spec['seed']}-it{k}", spark)
    streams = StreamCounter()
    counts = defaultdict(int)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    spark.streams.addListener(streams)
    try:
        with traced_sources(rec, counts):
            it = workload.iteration(k, rec)
        streams.settle()
    finally:
        spark.streams.removeListener(streams)
    unattributed = len(tracker.getJobIdsForGroup(None)) - before
    result["layers"], result["accounting"] = layer_metrics(
        spark, rec, streams, counts, it, unattributed)
    rec.dump(str(Path(spec["work"]) / "spans.jsonl"))
    return it


# -------------------------------------------------------------- main


def main(spec_path: str) -> None:
    spec = json.loads(Path(spec_path).read_text())
    sys.path.insert(0, str(ROOT))
    spark, setup = start(spec["spawn_time"])
    jvm = spark.sparkContext._gateway.proc.pid
    result: dict = {"setup": setup}
    try:
        from perfbench.trace import NullRecorder

        workload = (ReportEtl if spec["workload"] == "report_etl" else Catalog)(spark, spec)
        result["iterations"] = iterations = []
        if spec["trace"]:
            # Untraced runs bracket the traced pair, so the overhead
            # compares two runs on an equally warm JVM.
            result["warm"] = [workload.iteration(0, NullRecorder(), rerun=False)]
            iterations.append(traced_iteration(spark, workload, 1, spec, result))
            result["warm"].append(workload.iteration(2, NullRecorder(), rerun=False))
            result["layers"]["trace.overhead_s"] = (
                iterations[0]["run"]["wall_s"] - result["warm"][1]["run"]["wall_s"])
        else:
            measured = 0.0
            while True:
                it = workload.iteration(len(iterations), NullRecorder())
                iterations.append(it)
                measured += it["run"]["wall_s"] + it["rerun"]["wall_s"]
                if measured + measured / len(iterations) > spec["seconds"]:
                    break
        conf = spark.sparkContext.getConf()
        result["stamp"] = {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory", "default"),
        }
        peak = _peak_rss_mb(jvm)
        result["setup"]["jvm_peak_rss_mb"] = peak
        if "layers" in result:
            result["layers"].update({
                "session.jvm_start_s": setup["jvm_start_s"],
                "session.warmup_s": setup["warmup_s"],
                "session.jvm_peak_rss_mb": peak,
            })
    finally:
        stop(spark)
    Path(spec["out"]).write_text(json.dumps(result, default=str))
