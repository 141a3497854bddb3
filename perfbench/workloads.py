"""The two workloads: what each timed pass runs and how its outputs are
checked.

``report_etl`` is the paper's own workload: one
``plans.run_summary.run_reports`` call over the generated inbox with an
exporter that quarantines, loads and audits each report. The run writes
into fresh tables; the re-run repeats it into the tables just loaded,
which is the idempotent partition-overwrite path.

``catalog`` runs a fixed list of registered queries through a driver
collect: star queries (``plans.star_queries`` over ``operators`` and
``functions``), cold signature-store builds with the queries that read
them (``extensions.store``), the ROADMAP extension rows
(``extensions``) and the streaming state row (``streaming``). The run
starts from empty stores; the re-run finds them built.

Every check runs outside the timed region. A check that fails marks the
operation whose output it read as failed.
"""

from __future__ import annotations

import csv
import io
import os
import time
import zipfile

import duckdb

from tools import check_correctness, report_rehearsal

REPORTS = ("train_list", "booking_payment_detailed", "occupancy_list_hist")
#: Exporter operations per report, in the order the exporter runs them.
SINK_OPS = ("quarantine_errors", "quarantine_duplicates", "load", "audit")
PART_COLS = {
    "train_list": ("service_date", ["service_date"]),
    "booking_payment_detailed": ("op_date", ["op_date"]),
    "occupancy_list_hist": ("date", ["date", "data_date"]),
}

# ------------------------------------------------------------ catalog

#: Frozen operation list of the catalog workload: (operation, layer).
#: ``store:<name>`` builds one signature store; every other entry is a
#: registered query. It puts every catalog layer on the timed path at a
#: size one run can afford: star queries over the main operator
#: families, two store builds with a reader each, one of the ROADMAP's
#: stage-heavy extension rows and its slowest streaming state row.
CATALOG_OPS: tuple[tuple[str, str], ...] = (
    ("flagship_latest_order", "star_queries"),
    ("a4_pricing_summary", "star_queries"),
    ("a9_percentiles", "star_queries"),
    ("w1_keep_last_dedup", "star_queries"),
    ("f11_vat_fold", "star_queries"),
    ("o4_topk_per_group", "star_queries"),
    ("o5_distributed_rank", "star_queries"),
    ("store:simhash16", "store"),
    ("store:int8_codes_255", "store"),
    ("e2_simhash_near_dup", "extensions"),
    ("e3_quantized_embeddings", "extensions"),
    ("e7_epoch_shuffle", "extensions"),
    ("e5_stateful_sessionize", "streaming"),
)


def store_builders(spark, tables: str) -> dict:
    """The catalog's signature stores, built as
    ``ext_queries.prebuild_shared_stores`` builds them."""
    from train_reports_etl_spark.extensions import ext_queries as xq

    return {
        "simhash16": lambda: xq._shared_simhash_table(spark, tables),
        "int8_codes_255": lambda: xq._shared_quantized_codes(spark, tables),
    }


def oracle_frames(tables: str, names: list[str], out: str) -> dict[str, str | None]:
    """Run each query's ``oracle_sql()`` in DuckDB on the generated
    tables and pickle the result under ``out``. Returns name -> pickle
    path, ``None`` for a rows-only query."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    os.makedirs(out)
    paths: dict[str, str | None] = {}
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tables)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{f}'")
        for n in names:
            paths[n] = None
            if n in oracles:
                paths[n] = os.path.join(out, f"{n}.pkl")
                con.execute(oracles[n]).fetchdf().to_pickle(paths[n])
    finally:
        con.close()
    return paths


def catalog_pass(spark, tables: str, rec, stores: dict) -> tuple[dict, dict]:
    """One timed pass over ``CATALOG_OPS``. Returns per-operation
    seconds and results; a result is the collected frame, a store's row
    count, or the exception the operation raised."""
    from train_reports_etl_spark.plans.registry import QUERIES

    secs, results = {}, {}
    for name, layer in CATALOG_OPS:
        t0 = time.perf_counter()
        try:
            with rec.span(name, layer):
                if name.startswith("store:"):
                    results[name] = stores[name[6:]]().count()
                else:
                    results[name] = QUERIES[name](spark, tables).toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            results[name] = exc
        secs[name] = time.perf_counter() - t0
    return secs, results


def check_catalog(results: dict, oracles: dict) -> list[str]:
    """Names of operations whose output is wrong: an exception, a
    frame the correctness gate's comparison (``compare_frames``) finds
    different from the oracle's, an empty rows-only result or an empty
    store. ``oracles`` maps a query to its oracle frame or ``None``."""
    bad = []
    for name, _layer in CATALOG_OPS:
        res = results[name]
        if isinstance(res, Exception):
            bad.append(name)
        elif name.startswith("store:"):
            if res < 1:
                bad.append(name)
        elif oracles.get(name) is None:
            if len(res) == 0:
                bad.append(name)
        elif check_correctness.compare_frames(res, oracles[name]):
            bad.append(name)
    return bad


# --------------------------------------------------------- report_etl


def dep_dim(spark):
    """The departure-time lookup the train-list pipeline joins."""
    return spark.createDataFrame(
        [(t, f"{6 + i % 16}:00:00") for i, t in enumerate(report_rehearsal.TRAINS)],
        ["train_number", "departure_time"],
    )


def report_pass(spark, inbox: str, out_root: str, rec, dim) -> tuple[object, dict, dict, list]:
    """One ``run_reports`` orchestration into ``out_root``.

    Returns ``(summary, op_seconds, ranges, cached)``: per exporter
    operation seconds keyed ``(report, op)``, the date ranges each load
    covered, and the frames the pipelines persisted (the caller
    unpersists them once the pass is timed)."""
    from pyspark.sql import functions as F

    from train_reports_etl_spark.plans.report_pipelines import (
        bpd_pipeline,
        occupancy_pipeline,
        train_list_pipeline,
    )
    from train_reports_etl_spark.plans.run_summary import run_reports
    from train_reports_etl_spark.sinks.audit import append_audit
    from train_reports_etl_spark.sinks.partitioned import load_report
    from train_reports_etl_spark.sinks.quarantine import write_quarantine_zip

    qdir = os.path.join(out_root, "quarantine")
    os.makedirs(qdir, exist_ok=True)
    ops: dict[tuple[str, str], float] = {}
    ranges: dict[str, list] = {}
    cached: list = []

    def pipeline(name, fn):
        def run(raw):
            raw = raw.persist()
            cached.append(raw)
            with rec.span(name, "report_pipelines"):
                return fn(raw)

        return run

    def timed(report, op, layer, fn, *args):
        t0 = time.perf_counter()
        try:
            with rec.span(f"{report}.{op}", layer):
                return fn(*args)
        finally:
            ops[(report, op)] = time.perf_counter() - t0

    def exporter(name, res):
        timed(name, "quarantine_errors", "sinks.quarantine", write_quarantine_zip,
              res.error_rows, qdir, name, "errors", report_rehearsal.RUN_TS)
        timed(name, "quarantine_duplicates", "sinks.quarantine", write_quarantine_zip,
              res.duplicates, qdir, name, "duplicates", report_rehearsal.RUN_TS)
        cleaned = res.cleaned
        if name == "booking_payment_detailed":
            cleaned = cleaned.withColumn("op_date", F.substring("operation_date_time", 1, 10))
        date_col, pcols = PART_COLS[name]
        ranges[name] = timed(name, "load", "sinks.load", load_report, cleaned,
                             os.path.join(out_root, f"{name}.parquet"), date_col, pcols)
        timed(name, "audit", "sinks.audit", append_audit, spark,
              os.path.join(out_root, "audit.parquet"), name, "load",
              [f"{a}..{b}" for a, b in ranges[name]])

    with rec.span("run_reports", "run_summary"):
        summary = run_reports(
            spark,
            inbox,
            pipelines={
                "train_list": pipeline(
                    "train_list", lambda raw: train_list_pipeline(raw, dim)),
                "booking_payment_detailed": pipeline(
                    "booking_payment_detailed", bpd_pipeline),
                "occupancy_list_hist": pipeline(
                    "occupancy_list_hist",
                    lambda raw: occupancy_pipeline(raw, data_date=report_rehearsal.DATA_DATE)),
            },
            exporter=exporter,
        )
    return summary, ops, ranges, cached


def _parquet(out_root: str, name: str) -> str:
    return (f"read_parquet('{out_root}/{name}.parquet/**/*.parquet', "
            "hive_partitioning = true)")


def _zip_rows(path: str) -> int:
    """Data rows in a quarantine zip (one header line per CSV member)."""
    n = 0
    with zipfile.ZipFile(path) as zf:
        for member in zf.namelist():
            text = zf.read(member).decode("utf-8")
            n += max(0, sum(1 for _ in csv.reader(io.StringIO(text))) - 1)
    return n


def table_states(out_root: str) -> dict[str, tuple[int, int] | None]:
    """(rows, order-independent content hash) of each loaded table;
    ``None`` for a table that is missing or unreadable."""
    con = duckdb.connect()

    def state(t):
        try:
            n, h = con.execute(
                f"SELECT count(*), sum(hash(t)) FROM {_parquet(out_root, t)} t").fetchone()
        except duckdb.Error:
            return None
        return int(n), int(h or 0)

    try:
        return {t: state(t) for t in REPORTS}
    finally:
        con.close()


def observed_rows(out_root: str) -> dict[str, dict]:
    """Per report: rows in the loaded table and in the two quarantine
    zips (``None`` where an output is missing or unreadable)."""
    def q_rows(report, kind):
        path = os.path.join(out_root, "quarantine", f"{report} {kind} {report_rehearsal.RUN_TS}.csv.zip")
        try:
            return _zip_rows(path)
        except (OSError, zipfile.BadZipFile):
            return None

    con = duckdb.connect()
    try:
        def clean(report):
            try:
                return con.execute(f"SELECT count(*) FROM {_parquet(out_root, report)}").fetchone()[0]
            except duckdb.Error:
                return None

        return {r: {"clean": clean(r), "err": q_rows(r, "errors"), "dup": q_rows(r, "duplicates")}
                for r in REPORTS}
    finally:
        con.close()


def check_report_run(summary, ranges: dict, out_root: str, expected: dict) -> tuple[set, dict]:
    """Checks after the first run into ``out_root``. Returns the failed
    ``(report, op)`` pairs and the observed row counts."""
    bad: set[tuple[str, str]] = set()
    seen = observed_rows(out_root)
    con = duckdb.connect()

    def rows(sql):
        """Result rows, or None when the output is missing or unreadable."""
        try:
            return con.execute(sql).fetchall()
        except duckdb.Error:
            return None

    def one(sql):
        got = rows(sql)
        return got[0][0] if got else None

    try:
        want = {
            "train_list": (expected["tl_clean"], expected["tl_err"], expected["tl_dup"]),
            "booking_payment_detailed": (expected["bpd_clean"], expected["bpd_err"], 0),
            "occupancy_list_hist": (expected["occ_clean"], expected["occ_err"], expected["occ_dup"]),
        }
        for r, (clean, err, dup) in want.items():
            if seen[r]["clean"] != clean:
                bad.add((r, "load"))
            if seen[r]["err"] != err:
                bad.add((r, "quarantine_errors"))
            if seen[r]["dup"] != dup:
                bad.add((r, "quarantine_duplicates"))
        tickets = ",".join(f"'{t}'" for t in expected["copy2_tickets"])
        winners = rows(
            f"SELECT status, count(*) FROM {_parquet(out_root, 'train_list')} "
            f"WHERE ticket_number IN ({tickets}) GROUP BY status")
        if dict(winners or ()) != {"COPY2": len(expected["copy2_tickets"])}:
            bad.add(("train_list", "load"))
        n95 = one(f"SELECT count(*) FROM {_parquet(out_root, 'occupancy_list_hist')} "
                  "WHERE ticket_reserved = '95'")
        if n95 != expected["occ_dup"]:
            bad.add(("occupancy_list_hist", "load"))
        fold = one("SELECT sum(CAST(round(TRY_CAST(penalty_tariff AS DOUBLE) * 100) AS BIGINT)) "
                   f"FROM {_parquet(out_root, 'booking_payment_detailed')}")
        if fold != 230 * expected["bpd_clean"]:
            bad.add(("booking_payment_detailed", "load"))
        audit = dict(rows(
            f"SELECT table_name, count(*) FROM read_parquet('{out_root}/audit.parquet/*.parquet') "
            "GROUP BY table_name") or ())
        for r in REPORTS:
            if audit.get(r, 0) != len(ranges.get(r, ())) or not ranges.get(r):
                bad.add((r, "audit"))
    finally:
        con.close()
    bad |= check_events(summary)
    return bad, seen


def check_events(summary) -> set:
    """Exactly one read failure, the corrupt workbook; every pipeline
    and export recorded ok. A wrong read outcome fails every operation
    of the run; a failed pipeline or export fails that report's."""
    reads = [e for e in summary.failures if e.stage == "read"]
    if len(reads) != 1 or not reads[0].unit.endswith("corrupt.xlsx"):
        return {(r, op) for r in REPORTS for op in SINK_OPS}
    return {(e.report, op) for e in summary.failures if e.stage != "read" for op in SINK_OPS}


def check_report_rerun(summary, out_root: str, states: dict, audit_rows: int,
                       seen: dict) -> tuple[set, dict]:
    """Checks after the re-run: every table's content and every
    quarantine count is unchanged, and the audit table gained the same
    rows again. Returns the failed ``(report, op)`` pairs and the
    observed row counts."""
    again = observed_rows(out_root)
    bad = {(r, f"quarantine_{kind}") for r in REPORTS
           for key, kind in (("err", "errors"), ("dup", "duplicates"))
           if again[r][key] != seen[r][key]}
    bad |= {(t, "load") for t, st in table_states(out_root).items()
            if st is None or st != states[t]}
    con = duckdb.connect()
    try:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_root}/audit.parquet/*.parquet')").fetchone()[0]
    except duckdb.Error:
        return {(r, op) for r in REPORTS for op in SINK_OPS}, again
    finally:
        con.close()
    if n != 2 * audit_rows:
        bad |= {(r, "audit") for r in REPORTS}
    return bad | check_events(summary), again
