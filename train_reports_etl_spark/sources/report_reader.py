"""Report ingestion: discover → sniff → typed all-string read (S1–S4).

The reference enumerates ``*.xlsx`` in the working directory, sniffs
every sheet, and reads matching sheets as all-string frames
(`reports_exporter_v0.83.py:1684-1724,522-528`). Excel has no
splittable JVM reader in this container (the
``com.crealytics:spark-excel`` datasource would slot in on a real
cluster); the scalable pattern used here is:

- discovery sniffs each sheet once on the driver; the sniff carries
  the header row's column names, so no workbook is re-opened to learn
  a header;
- the *(file, sheet, row-tier)* triple is the parallel unit, tiered
  exactly like the reference's parallel reader
  (`Old/reports_exporter_v0.82.ipynb:484-554`: ≥3000 rows per task),
  so one big sheet and many small sheets both saturate the I/O path.
  Tiers run as executor tasks (:func:`read_report` —
  ``parallelize(tasks).flatMap``);
- each report type becomes one all-string DataFrame with the exact
  sniffed header, feeding the same pipeline as any other source.

Engine selection: openpyxl when installed, else the pure-stdlib
``xlsx_lite`` fallback (same public xlsx format), so the full
discover→sniff→read path runs in any environment.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from train_reports_etl_spark.operators.union import union_all
from train_reports_etl_spark.sources import xlsx_lite
from train_reports_etl_spark.sources.sniffer import PROBE_DEPTH, SniffResult, sniff_rows

try:  # optional accelerated engine; absent in this container
    import openpyxl  # noqa: F401

    HAVE_OPENPYXL = True
except ImportError:
    HAVE_OPENPYXL = False

# Reference parallel-read tuning constants
# (`Old/reports_exporter_v0.82.ipynb:486,491`).
MIN_ROWS_PER_TASK = 3000


def _max_workers() -> int:
    return max(1, (os.cpu_count() or 2) - 1)


@dataclass(frozen=True)
class SheetRef:
    """One discovered (file, sheet) input and its sniff result, which
    carries the sheet's header row and column names."""

    path: str
    sheet: str
    sniff: SniffResult


def discover_files(directory: str, pattern: str = ".xlsx") -> list[str]:
    """S1 — enumerate candidate report files (driver-side listing; at
    scale this is an object-store listing, still a metadata op)."""
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.lower().endswith(pattern) and not f.startswith("~")
    )


def _engine_rows(
    path: str, sheet: str, min_row: int = 1, max_row: int | None = None
) -> Iterator[list]:
    """Yield raw cell rows for the 1-based inclusive range, via
    whichever engine is available."""
    if HAVE_OPENPYXL:
        wb = openpyxl.load_workbook(path, read_only=True, data_only=True)
        try:
            yield from wb[sheet].iter_rows(min_row=min_row, max_row=max_row, values_only=True)
        finally:
            wb.close()
    else:
        yield from xlsx_lite.iter_rows(path, sheet, min_row=min_row, max_row=max_row)


def _sheet_names(path: str) -> list[str]:
    if HAVE_OPENPYXL:
        wb = openpyxl.load_workbook(path, read_only=True)
        try:
            return list(wb.sheetnames)
        finally:
            wb.close()
    return xlsx_lite.sheet_names(path)


def _sheet_max_row(path: str, sheet: str) -> int:
    if HAVE_OPENPYXL:
        wb = openpyxl.load_workbook(path, read_only=True)
        try:
            return wb[sheet].max_row or 0
        finally:
            wb.close()
    return xlsx_lite.sheet_max_row(path, sheet)


def _iter_sheets(path: str) -> Iterable[tuple[str, list[list]]]:
    """Yield (sheet_name, first PROBE_DEPTH rows) per sheet."""
    for name in _sheet_names(path):
        rows = []
        for i, row in enumerate(_engine_rows(path, name, 1, PROBE_DEPTH)):
            if i >= PROBE_DEPTH:
                break
            rows.append(list(row))
        yield name, rows


def discover_reports(
    directory: str,
    on_error: Callable[[str, Exception], None] | None = None,
) -> dict[str, list[SheetRef]]:
    """S1+S2 — sniff every sheet of every file; group by report type
    (`reports_exporter_v0.83.py:1690-1724`). Unknown sheets are skipped.

    ``on_error``: per-FILE failure isolation, matching the reference's
    per-file try/except (`:1652-1687`) — a corrupt workbook is reported
    via the callback and the remaining files still discover. Without a
    callback the exception propagates (a caller that didn't opt into
    isolation must not silently lose files).
    """
    found: dict[str, list[SheetRef]] = {}
    for path in discover_files(directory):
        try:
            for sheet, rows in _iter_sheets(path):
                res = sniff_rows(rows)
                if res is not None:
                    found.setdefault(res.report_type, []).append(
                        SheetRef(path, sheet, res)
                    )
        except Exception as exc:  # noqa: BLE001 — one bad workbook
            if on_error is None:
                raise
            on_error(path, exc)
    return found


def tier_plan(
    first_row: int,
    max_row: int,
    min_rows_per_task: int = MIN_ROWS_PER_TASK,
    max_workers: int | None = None,
) -> list[tuple[int, int]]:
    """S4 — split [first_row, max_row] into ≤ ``cpu_count()-1`` tiers
    of ≥ ``min_rows_per_task`` rows, the reference's sizing rule
    (`Old/reports_exporter_v0.82.ipynb:486-510`)."""
    total = max_row - first_row + 1
    if total <= 0:
        return []
    n = max(1, min(max_workers or _max_workers(), math.ceil(total / min_rows_per_task)))
    tier = math.ceil(total / n)
    return [(s, min(s + tier - 1, max_row)) for s in range(first_row, max_row + 1, tier)]


def read_report(
    spark: SparkSession,
    refs: list[SheetRef],
    min_rows_per_task: int = MIN_ROWS_PER_TASK,
) -> DataFrame:
    """S3+S4/U1 — read all sheets of one report type as one all-string
    frame (dtype=str parity, `reports_exporter_v0.83.py:522-528`), on
    EXECUTORS — the cluster form of the reference's advertised parallel
    read (`README.md:22`, `Old/reports_exporter_v0.82.ipynb:484-554`):
    every (file, sheet, row-tier) of the report is one element of an
    RDD, so tiers run wherever the cluster has slots. Requires the files
    on storage every executor can reach (shared FS / object store — in
    local mode, trivially true).

    Driver-side work is one max-row footer probe per sheet; the header
    comes from the sniff (:attr:`SniffResult.columns`). Sheets whose
    sniffed headers are identical share one RDD job (their tiers
    interleave freely); header variants become separate frames unioned
    by name. A sheet with no data rows contributes no task, so a report
    of header-only sheets is an empty frame with the sniffed columns.
    ``min_rows_per_task`` is the tier floor of :func:`tier_plan`.
    Downstream coercion is the pipelines' job (F1/F2)."""
    groups: dict[tuple[str, ...], list[SheetRef]] = {}
    for ref in refs:
        groups.setdefault(ref.sniff.columns, []).append(ref)
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    frames = []
    for header, group_refs in groups.items():
        width = len(header)
        tasks: list[tuple[str, str, int, int]] = []
        for ref in group_refs:
            first_data_row = ref.sniff.header_row + 2  # 1-based, after header
            for lo, hi in tier_plan(
                first_data_row,
                _sheet_max_row(ref.path, ref.sheet),
                min_rows_per_task,
                max_workers=parallelism,
            ):
                tasks.append((ref.path, ref.sheet, lo, hi))

        def read_task(task: tuple[str, str, int, int], _width: int = width) -> list[list]:
            # Executor-side: import by name so cloudpickle ships this
            # closure by value without dragging the module graph along.
            from train_reports_etl_spark.sources.report_reader import _engine_rows

            path, sheet, lo, hi = task
            out = []
            for row in _engine_rows(path, sheet, lo, hi):
                vals = [None if c is None else str(c) for c in row[:_width]]
                vals.extend([None] * (_width - len(vals)))
                out.append(vals)
            return out

        schema = StructType([StructField(name, StringType(), True) for name in header])
        if not tasks:
            frames.append(spark.createDataFrame([], schema))
        else:
            rdd = spark.sparkContext.parallelize(tasks, len(tasks)).flatMap(read_task)
            frames.append(spark.createDataFrame(rdd, schema=schema))
    return union_all(frames)
