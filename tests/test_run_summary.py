"""Run-level error aggregation (reference `reports_exporter_v0.83.py:
192-231` errors_found flag + `:1860-1875` end-of-run summary): a mixed
good/bad run produces ONE summary with per-stage events, and failures
never abort the rest of the run."""

from __future__ import annotations

from train_reports_etl_spark.plans.run_summary import RunSummary, run_reports
from train_reports_etl_spark.plans.schemas import HEADERS, TRAIN_LIST_HEADER
from train_reports_etl_spark.sources import xlsx_lite


def _tl_rows(n=2):
    width = len(TRAIN_LIST_HEADER)
    data = []
    for i in range(n):
        row = [""] * width
        row[TRAIN_LIST_HEADER.index("Departure Date")] = "2024-03-05 10:30:00"
        row[TRAIN_LIST_HEADER.index("Train Number")] = "AB123"
        row[TRAIN_LIST_HEADER.index("Ticket Number")] = f"T{i:04d}"
        data.append(row)
    return [["Train List Report", None], [], list(TRAIN_LIST_HEADER)] + data


def _fixture_dir(tmp_path):
    xlsx_lite.write_xlsx(str(tmp_path / "tl.xlsx"), {"TL": _tl_rows(2)})
    # Sniffs as occupancy but has no registered pipeline below.
    xlsx_lite.write_xlsx(
        str(tmp_path / "occ.xlsx"), {"O": [list(HEADERS["occupancy_list_hist"])]}
    )
    return str(tmp_path)


def test_mixed_run_aggregates_failures_without_aborting(spark, tmp_path):
    directory = _fixture_dir(tmp_path)
    exported = []

    def ok_pipeline(raw):
        from train_reports_etl_spark.plans.report_pipelines import ReportResult

        empty = raw.limit(0)
        return ReportResult(cleaned=raw, error_rows=empty, duplicates=empty)

    summary = run_reports(
        spark,
        directory,
        pipelines={"train_list": ok_pipeline},  # occupancy: unregistered
        exporter=lambda name, res: exported.append(name),
    )

    assert summary.errors_found  # the unregistered report is a warning-event
    stages = {(e.report, e.stage): e.ok for e in summary.events}
    assert stages[("train_list", "read")] is True
    assert stages[("train_list", "pipeline")] is True
    assert stages[("train_list", "export")] is True
    assert stages[("occupancy_list_hist", "pipeline")] is False
    assert "no pipeline registered" in summary.failures[0].error
    assert exported == ["train_list"]
    assert summary.results["train_list"].cleaned.count() == 2


def test_pipeline_failure_recorded_and_run_continues(spark, tmp_path):
    directory = _fixture_dir(tmp_path)

    def boom(raw):
        raise ValueError("bad coercion")

    summary = run_reports(spark, directory, pipelines={"train_list": boom})
    fail = [e for e in summary.events if e.report == "train_list" and e.stage == "pipeline"]
    assert len(fail) == 1 and not fail[0].ok
    assert "ValueError: bad coercion" in fail[0].error
    # failing pipeline must not kill the run: occupancy still got its event
    assert any(e.report == "occupancy_list_hist" for e in summary.events)


def test_summary_frame_and_json(spark, tmp_path):
    import json

    directory = _fixture_dir(tmp_path)
    summary = run_reports(spark, directory, pipelines={})
    sdf = summary.frame(spark)
    assert sdf.columns == ["report", "stage", "unit", "ok", "error"]
    assert sdf.count() == len(summary.events)
    blob = json.loads(summary.to_json())
    assert blob["errors_found"] is True
    assert blob["n_events"] == len(summary.events)
    assert blob["n_failures"] == len(summary.failures)


def test_clean_run_has_no_errors(spark, tmp_path):
    xlsx_lite.write_xlsx(str(tmp_path / "tl.xlsx"), {"TL": _tl_rows(1)})

    def ok_pipeline(raw):
        from train_reports_etl_spark.plans.report_pipelines import ReportResult

        empty = raw.limit(0)
        return ReportResult(cleaned=raw, error_rows=empty, duplicates=empty)

    summary = run_reports(spark, str(tmp_path), pipelines={"train_list": ok_pipeline})
    assert not summary.errors_found
    assert RunSummary().errors_found is False


def test_bad_directory_is_one_event(spark):
    summary = run_reports(spark, "/nonexistent/dir", pipelines={})
    assert summary.errors_found
    assert summary.events[0].stage == "read"


def test_run_reports_sniffs_each_sheet_once(spark, tmp_path, monkeypatch):
    """Workbook opens on the driver: one sheet listing per file, one
    header probe per sheet (the sniff, whose header is reused for the
    read) and one size probe per sniffed sheet. Data rows are read on
    executors, in other processes, so they do not count here."""
    from collections import Counter

    from train_reports_etl_spark.plans.report_pipelines import ReportResult
    from train_reports_etl_spark.sources import report_reader

    xlsx_lite.write_xlsx(
        str(tmp_path / "a.xlsx"),
        {"TL1": _tl_rows(2), "TL2": _tl_rows(3), "notes": [["not a report"]]},
    )
    xlsx_lite.write_xlsx(str(tmp_path / "b.xlsx"), {"TL": _tl_rows(1)})

    calls = Counter()

    def counting(name):
        fn = getattr(report_reader, name)

        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapped

    for name in ("_sheet_names", "_engine_rows", "_sheet_max_row"):
        monkeypatch.setattr(report_reader, name, counting(name))

    rows = []

    def counting_pipeline(raw):
        rows.append(raw.count())
        empty = raw.limit(0)
        return ReportResult(cleaned=raw, error_rows=empty, duplicates=empty)

    summary = run_reports(spark, str(tmp_path), pipelines={"train_list": counting_pipeline})
    assert not summary.errors_found
    assert rows == [6]
    assert sum(e.stage == "read" for e in summary.events) == 3
    assert calls == {"_sheet_names": 2, "_engine_rows": 4, "_sheet_max_row": 3}
