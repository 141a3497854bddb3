"""Tests of the benchmark's own logic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The smoke tests start a local Spark session and run each workload on
tiny generated inputs, untraced and traced.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest

from perfbench import gen_inputs, metrics, run, session, workloads
from perfbench.trace import NullRecorder, Recorder, Span, self_times

ROOT = Path(__file__).resolve().parents[2]


# ------------------------------------------------------------- tail


def test_tail_is_highest_percentile_with_ten_beyond():
    # 1..100: p90 (value 90) leaves exactly 10 samples beyond it
    assert metrics.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0, 10)
    # 30 samples: rank 20 of 30 is the highest with 10 beyond
    assert metrics.tail([float(i) for i in range(30, 0, -1)]) == (
        20.0, pytest.approx(200 / 3), 10)


def test_tail_counts_only_strictly_greater_samples():
    # ranks 16-25 tie at 2.0, so only the five 3.0s lie beyond them;
    # rank 15 (value 1.0) has the fifteen 2.0s and 3.0s beyond it
    vals = [1.0] * 15 + [2.0] * 10 + [3.0] * 5
    assert metrics.tail(vals) == (1.0, 50.0, 15)


def test_tail_without_enough_samples_reports_the_maximum():
    assert metrics.tail([3.0, 1.0, 2.0, 2.5] * 2 + [0.5, 0.7]) == (3.0, 100.0, 0)
    with pytest.raises(ValueError):
        metrics.tail([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0]
    q1, med, q3 = 10.5, 12.0, 13.5
    assert metrics.quartile_spread(vals) == pytest.approx((q3 - q1) / med)


# -------------------------------------------------------- self time


def _span(sid, parent, start, end):
    return Span(sid, f"s{sid}", "x", "r", parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: covered union is [1, 6]
        _span(3, 1, 2.0, 3.0),  # grandchild: only span 1 loses it
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped to [9, 10]
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(4.0), 1: pytest.approx(2.0), 2: pytest.approx(3.0),
                  3: pytest.approx(1.0), 4: pytest.approx(3.0)}


def test_recorder_nests_spans_and_self_times_add_up():
    rec = Recorder("t")
    with rec.span("root", "bench"):
        with rec.span("a", "layer_a"):
            time.sleep(0.02)
            with rec.span("b", "layer_b"):
                time.sleep(0.02)
        time.sleep(0.01)
    root, a, b = rec.spans
    assert (root.parent, a.parent, b.parent) == (None, root.sid, a.sid)
    st = self_times(rec.spans)
    assert sum(st.values()) == pytest.approx(root.end - root.start)
    assert st[a.sid] >= 0.02 and st[b.sid] >= 0.02


def test_recorder_dump_writes_one_line_per_span(tmp_path):
    rec = Recorder("t")
    with rec.span("root", "bench"):
        pass
    rec.dump(str(tmp_path / "spans.jsonl"))
    (line,) = (tmp_path / "spans.jsonl").read_text().splitlines()
    assert json.loads(line)["name"] == "root"


# ---------------------------------------------------- failure count


def test_check_catalog_counts_errors_wrong_values_and_empty_rows(monkeypatch):
    ops = (("q_ok", "star_queries"), ("q_wrong", "star_queries"),
           ("q_raised", "extensions"), ("q_rows_only", "streaming"),
           ("store:s", "store"))
    monkeypatch.setattr(workloads, "CATALOG_OPS", ops)
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    oracles = {"q_ok": good, "q_wrong": good, "q_raised": good, "q_rows_only": None}
    results = {
        "q_ok": good.iloc[::-1],  # row order does not matter
        "q_wrong": pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]}),
        "q_raised": RuntimeError("boom"),
        "q_rows_only": pd.DataFrame({"x": []}),
        "store:s": 3,
    }
    assert workloads.check_catalog(results, oracles) == ["q_wrong", "q_raised", "q_rows_only"]


def test_summary_counts_failed_over_attempted():
    def pas(wall, failed, n=4):
        return {"wall_s": wall, "op_s": [wall / n] * n, "attempted": n, "failed": failed}

    sess = {"setup": {"setup_s": 9.0},
            "iterations": [{"run": pas(4.0, ["q_wrong"]), "rerun": pas(2.0, [])}] * 3}
    out = run.summarize(sess)
    assert (out["attempted"], out["failed"]) == (24, 3)
    assert out["detail"]["ops_failed_frac"] == pytest.approx(3 / 24)
    assert out["detail"]["failed_ops"] == ["q_wrong"]
    assert out["values"]["run_s"] == 4.0 and out["values"]["rerun_s"] == 2.0
    with pytest.raises(ValueError):
        metrics.failed_frac(0, 0)


def test_report_events_fail_the_affected_operations():
    def ev(report, stage, unit, ok=True):
        return SimpleNamespace(report=report, stage=stage, unit=unit, ok=ok)

    corrupt = ev("*", "read", "/in/corrupt.xlsx", ok=False)
    ok = SimpleNamespace(failures=[corrupt])
    assert workloads.check_events(ok) == set()
    export_failed = SimpleNamespace(failures=[corrupt, ev("train_list", "export", "x", ok=False)])
    assert workloads.check_events(export_failed) == {
        ("train_list", op) for op in workloads.SINK_OPS}
    no_read_failure = SimpleNamespace(failures=[])
    assert len(workloads.check_events(no_read_failure)) == 12


def test_missing_report_outputs_fail_every_operation(tmp_path):
    expected = gen_inputs.make_inbox(str(tmp_path / "inbox"), 1, 2, 1, 1)
    corrupt = SimpleNamespace(report="*", stage="read", unit="corrupt.xlsx", ok=False)
    summary = SimpleNamespace(failures=[corrupt])
    ranges = {r: [("2024-03-01", "2024-03-02")] for r in workloads.REPORTS}
    bad, seen = workloads.check_report_run(summary, ranges, str(tmp_path / "out"), expected)
    assert bad == {(r, op) for r in workloads.REPORTS for op in workloads.SINK_OPS}
    assert all(v is None for counts in seen.values() for v in counts.values())


# ------------------------------------------------------- generators


def _tree_digest(path: Path) -> dict[str, str]:
    return {str(p.relative_to(path)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(path.rglob("*")) if p.is_file()}


def test_inbox_is_byte_identical_for_a_seed(tmp_path):
    e1 = gen_inputs.make_inbox(str(tmp_path / "a"), 7)
    time.sleep(2.1)  # zip timestamps have 2-second resolution
    e2 = gen_inputs.make_inbox(str(tmp_path / "b"), 7)
    e3 = gen_inputs.make_inbox(str(tmp_path / "c"), 8)
    assert e1 == e2
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")
    assert e1["tl_clean"] == e1["tl_total"] - e1["tl_err"] - e1["tl_dup"]
    assert len(e1["copy2_tickets"]) == gen_inputs.N_COPY2 * (gen_inputs.N_TL_FILES // 2)


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    gen_inputs.make_tables(str(tmp_path / "a"), 3)
    gen_inputs.make_tables(str(tmp_path / "b"), 3)
    gen_inputs.make_tables(str(tmp_path / "c"), 4)
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")


# ----------------------------------------------------------- command


def test_command_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "report_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_benchmark_json_names_the_workloads_and_summary_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    sess = {"setup": {"setup_s": 1.0}, "iterations": [
        {p: {"wall_s": 1.0, "op_s": [0.1] * 20, "attempted": 20, "failed": []}
         for p in ("run", "rerun")}]}
    assert set(run.summarize(sess)["values"]) == set(run.metric_units("end_to_end"))


# ------------------------------------------------------------- smoke


@pytest.fixture(scope="module")
def spark():
    from train_reports_etl_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    from train_reports_etl_spark.extensions import store

    store.clear(s)


def _run_workload(spark, workload, spec, tmp_path):
    """One untraced and one traced iteration; returns (untraced,
    traced, per-layer metrics)."""
    plain = workload.iteration(0, NullRecorder())
    result = {}
    traced = session.traced_iteration(spark, workload, 1, dict(spec, seed=0), result)
    for it in (plain, traced):
        for p in it.values():
            assert p["failed"] == [], p["failed"]
            assert p["attempted"] == len(p["op_s"]) > 0
    added_by_main = {"session.jvm_start_s", "session.warmup_s", "session.jvm_peak_rss_mb",
                     "trace.overhead_s"}
    assert set(result["layers"]) == set(run.metric_units("per_layer")) - added_by_main
    spans = [json.loads(line) for line in (tmp_path / "spans.jsonl").read_text().splitlines()]
    roots = [s for s in spans if s["parent"] is None]
    assert {s["name"] for s in roots} == {"run", "rerun"}
    assert sum(s["self_s"] for s in spans) == pytest.approx(
        sum(s["end"] - s["start"] for s in roots))
    return plain, traced, result["layers"]


def test_smoke_report_etl(spark, tmp_path):
    expected = gen_inputs.make_inbox(str(tmp_path / "inbox"), 5, 2, 1, 1)
    spec = {"inbox": str(tmp_path / "inbox"), "expected": expected, "work": str(tmp_path)}
    _, _, layers = _run_workload(spark, session.ReportEtl(spark, spec), spec, tmp_path)
    rows = expected["tl_total"] + expected["bpd_total"] + expected["occ_total"]
    assert layers["sources.rows_read"] == 2 * rows  # run and re-run
    assert layers["sources.read_tasks"] > 0 and layers["sinks.spark_jobs"] > 0
    assert layers["sources.driver_opens_per_sheet"] > 0
    assert layers["star_queries.spark_jobs"] == 0 and layers["streaming.micro_batches"] == 0


def test_smoke_catalog(spark, tmp_path, monkeypatch):
    ops = (("a4_pricing_summary", "star_queries"), ("store:int8_codes_255", "store"),
           ("e3_quantized_embeddings", "extensions"), ("e5_stateful_sessionize", "streaming"))
    monkeypatch.setattr(workloads, "CATALOG_OPS", ops)
    tables = str(tmp_path / "tables")
    tiny = {"star_mult": 0.01, "documents": 100, "embeddings": 100, "events": 1_000}
    gen_inputs.make_tables(tables, 5, tiny)
    oracles = workloads.oracle_frames(tables, [n for n, _ in ops if ":" not in n],
                                      str(tmp_path / "oracles"))
    spec = {"tables": tables, "oracles": oracles, "work": str(tmp_path)}
    _, _, layers = _run_workload(spark, session.Catalog(spark, spec), spec, tmp_path)
    for layer in ("star_queries", "store", "extensions", "streaming"):
        assert layers[f"{layer}.spark_jobs"] > 0, layer
    assert layers["streaming.micro_batches"] > 0
    assert layers["sinks.spark_jobs"] == 0 and layers["sources.read_tasks"] == 0


def test_layer_map_covers_every_per_layer_metric_once():
    layers = json.loads((ROOT / "perfbench" / "layers.json").read_text())
    named = [m for entry in layers.values() for m in entry["metrics"]]
    assert sorted(named) == sorted(run.metric_units("per_layer"))
    for entry in layers.values():
        assert set(entry["on"]) | set(entry["flat_on"]) <= set(run.WORKLOADS)
        assert set(entry["should_move"]) <= set(run.metric_units("end_to_end"))
