"""Excel ingest path (S1–S4, S13): xlsx_lite round-trip, discover →
sniff → read end-to-end on generated fixtures, tiered parallel read,
and input archival."""

from __future__ import annotations

from train_reports_etl_spark.plans.schemas import HEADERS, TRAIN_LIST_HEADER
from train_reports_etl_spark.sinks.archival import archive_inputs
from train_reports_etl_spark.sources import xlsx_lite
from train_reports_etl_spark.sources.report_reader import (
    MIN_ROWS_PER_TASK,
    SheetRef,
    discover_reports,
    read_report,
    tier_plan,
)
from train_reports_etl_spark.sources.sniffer import SniffResult


def test_xlsx_lite_roundtrip(tmp_path):
    rows = [
        ["a&b <c>", 1, 2.5, True, None, "tail"],
        [],  # entirely empty row must survive as a gap
        [None, "x"],
        ["", 0],
    ]
    path = xlsx_lite.write_xlsx(str(tmp_path / "t.xlsx"), {"S1": rows, "Später": [["ü"]]})
    assert xlsx_lite.sheet_names(path) == ["S1", "Später"]
    got = list(xlsx_lite.iter_rows(path, "S1"))
    assert got[0] == ["a&b <c>", 1, 2.5, True, None, "tail"]
    assert got[1] == []
    assert got[2] == [None, "x"]
    assert got[3] == ["", 0]
    assert list(xlsx_lite.iter_rows(path, "Später")) == [["ü"]]
    assert xlsx_lite.sheet_max_row(path, "S1") == 4
    # bounded range read (the S4 tier primitive)
    assert list(xlsx_lite.iter_rows(path, "S1", min_row=3, max_row=3)) == [[None, "x"]]


def _tl_fixture_rows(n=3):
    """Title + blank + exact header + n data rows (ticket Txxxx)."""
    width = len(TRAIN_LIST_HEADER)
    data = []
    for i in range(n):
        row = [""] * width
        row[TRAIN_LIST_HEADER.index("Departure Date")] = "2024-03-05 10:30:00"
        row[TRAIN_LIST_HEADER.index("Train Number")] = "AB123"
        row[TRAIN_LIST_HEADER.index("OD")] = "XX-YY"
        row[TRAIN_LIST_HEADER.index("Ticket Number")] = f"T{i:04d}"
        data.append(row)
    return [["Train List Report", None], [], list(TRAIN_LIST_HEADER)] + data


def test_discover_sniff_read_end_to_end(spark, tmp_path):
    xlsx_lite.write_xlsx(
        str(tmp_path / "march.xlsx"),
        {"TL": _tl_fixture_rows(3), "notes": [["not a report"], ["at all"]]},
    )
    xlsx_lite.write_xlsx(str(tmp_path / "occ.xlsx"), {"O": [list(HEADERS["occupancy_list_hist"])]})

    found = discover_reports(str(tmp_path))
    assert set(found) == {"train_list", "occupancy_list_hist"}
    [ref] = found["train_list"]
    assert ref.sheet == "TL" and ref.sniff.header_row == 2

    df = read_report(spark, found["train_list"])
    assert df.columns == list(TRAIN_LIST_HEADER)
    assert df.schema["Ticket Number"].dataType.simpleString() == "string"
    tickets = sorted(r["Ticket Number"] for r in df.collect())
    assert tickets == ["T0000", "T0001", "T0002"]


def _stringified(rows, width):
    """Rows as the reader must return them: every cell stringified,
    NULL gaps kept, padded/truncated to the header width."""
    out = []
    for row in rows:
        vals = [None if c is None else str(c) for c in row[:width]]
        out.append(tuple(vals + [None] * (width - len(vals))))
    return sorted(out, key=repr)


def _collected(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _n_tiers(spark, first_row, last_row, min_rows):
    parallelism = spark.sparkContext.defaultParallelism
    return len(tier_plan(first_row, last_row, min_rows, max_workers=parallelism))


def test_read_sheet_tiered_matches_sequential(spark, tmp_path):
    # enough rows that tier_plan(min_rows_per_task=10) makes >1 tier
    width = len(TRAIN_LIST_HEADER)
    data = [[f"v{i}", i, None] + [""] * (width - 3) for i in range(50)]
    path = xlsx_lite.write_xlsx(
        str(tmp_path / "big.xlsx"), {"TL": [["junk"], list(TRAIN_LIST_HEADER)] + data}
    )
    ref = SheetRef(path, "TL", SniffResult("train_list", 1, tuple(TRAIN_LIST_HEADER)))
    df = read_report(spark, [ref], min_rows_per_task=10)
    assert df.columns == list(TRAIN_LIST_HEADER)
    assert _collected(df) == _stringified(data, width)
    # one RDD partition per row tier
    n_tiers = _n_tiers(spark, 3, 52, 10)
    assert n_tiers > 1 and df.rdd.getNumPartitions() == n_tiers


def test_tier_plan_reference_constants():
    # below the 3000-row floor: a single tier
    assert tier_plan(2, 100) == [(2, 100)]
    # 9000 rows, 3 workers: three 3000-row tiers, exact disjoint cover
    tiers = tier_plan(1, 9000, max_workers=3)
    assert tiers == [(1, 3000), (3001, 6000), (6001, 9000)]
    # worker cap binds before the row floor on huge inputs
    tiers = tier_plan(1, 10 * MIN_ROWS_PER_TASK, max_workers=4)
    assert len(tiers) == 4
    # any plan covers the range exactly, in order, without overlap
    flat = [r for t in tiers for r in range(t[0], t[1] + 1)]
    assert flat == list(range(1, 10 * MIN_ROWS_PER_TASK + 1))
    assert tier_plan(5, 4) == []


def test_read_report_reads_sheets_concurrently(spark, tmp_path):
    """S4 probe: same-header sheets are tasks of ONE RDD — one scan, one
    partition per sheet tier — so Spark runs them as concurrent tasks of
    one stage instead of one job per sheet."""
    header = ["s", "v"]
    path = xlsx_lite.write_xlsx(
        str(tmp_path / "two.xlsx"),
        {"a": [header, ["a", 1], ["a", 2]], "b": [header, ["b", 3]]},
    )
    refs = [SheetRef(path, s, SniffResult("t", 0, tuple(header))) for s in ("a", "b")]
    out = read_report(spark, refs)
    assert _collected(out) == [("a", "1"), ("a", "2"), ("b", "3")]
    assert out.rdd.getNumPartitions() == 2
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1 and "Union" not in plan


def test_distributed_read_matches_fixture_rows(spark, tmp_path):
    """S4 executor path: every (file, sheet, row-tier) is one RDD task
    (parallelize().flatMap); on a multi-file, multi-sheet fixture with
    NULL gaps and several tiers per sheet, the frame holds exactly the
    rows the fixture wrote, stringified."""
    width = len(TRAIN_LIST_HEADER)

    def data_rows(tag, n):
        data = []
        for i in range(n):
            row = [f"{tag}{i}", i] + [""] * (width - 2)
            row[2] = None  # NULL gap must survive the round trip
            data.append(row)
        return data

    files = {
        "a.xlsx": {"S1": data_rows("a", 40), "S2": data_rows("b", 25)},
        "b.xlsx": {"S1": data_rows("c", 10)},
    }
    for name, sheets in files.items():
        xlsx_lite.write_xlsx(
            str(tmp_path / name),
            {s: [["junk title"], list(TRAIN_LIST_HEADER)] + rows for s, rows in sheets.items()},
        )
    written = [rows for sheets in files.values() for rows in sheets.values()]
    refs = discover_reports(str(tmp_path))["train_list"]
    assert len(refs) == 3
    # small min_rows_per_task so every sheet splits into several tiers
    df = read_report(spark, refs, min_rows_per_task=8)
    assert df.columns == list(TRAIN_LIST_HEADER)
    assert _collected(df) == _stringified([r for rows in written for r in rows], width)
    # the executor path really fans out: one RDD partition per tier
    n_tiers = sum(_n_tiers(spark, 3, len(rows) + 2, 8) for rows in written)
    assert n_tiers >= 3 and df.rdd.getNumPartitions() == n_tiers


def test_distributed_read_mixed_headers_union_by_name(spark, tmp_path):
    """Sheets with different sniffed headers group into separate RDD
    jobs and union by name."""
    h1 = ["x", "y"]
    h2 = ["y", "x"]  # same names, different order → by-name union
    p = xlsx_lite.write_xlsx(
        str(tmp_path / "m.xlsx"),
        {
            "A": [h1] + [[f"ax{i}", f"ay{i}"] for i in range(5)],
            "B": [h2] + [[f"by{i}", f"bx{i}"] for i in range(4)],
        },
    )
    refs = [
        SheetRef(p, "A", SniffResult("t", 0, tuple(h1))),
        SheetRef(p, "B", SniffResult("t", 0, tuple(h2))),
    ]
    dist = read_report(spark, refs, min_rows_per_task=2)
    assert sorted(dist.columns) == ["x", "y"]
    rows = sorted((r["x"], r["y"]) for r in dist.collect())
    assert rows == sorted([(f"ax{i}", f"ay{i}") for i in range(5)]
                          + [(f"bx{i}", f"by{i}") for i in range(4)])
    assert dist.rdd.getNumPartitions() == _n_tiers(spark, 2, 6, 2) + _n_tiers(spark, 2, 5, 2)


def test_header_only_sheet_reads_as_empty_frame(spark, tmp_path):
    header = list(HEADERS["occupancy_list_hist"])
    xlsx_lite.write_xlsx(str(tmp_path / "occ.xlsx"), {"O": [["title"], header]})
    refs = discover_reports(str(tmp_path))["occupancy_list_hist"]
    df = read_report(spark, refs)
    assert df.columns == header
    assert df.count() == 0


def test_null_header_cell_reads_as_unnamed_column(spark, tmp_path):
    """A NULL header cell still sniffs (the match drops NULLs) and its
    column is named ``Unnamed: i`` after its position."""
    header = list(TRAIN_LIST_HEADER[:3]) + [None] + list(TRAIN_LIST_HEADER[3:])
    data = [[f"d{i}", "x", "y", f"gap{i}"] for i in range(3)]
    xlsx_lite.write_xlsx(str(tmp_path / "tl.xlsx"), {"TL": [header] + data})
    [ref] = discover_reports(str(tmp_path))["train_list"]
    df = read_report(spark, [ref])
    assert df.columns == list(TRAIN_LIST_HEADER[:3]) + ["Unnamed: 3"] + list(TRAIN_LIST_HEADER[3:])
    assert sorted(r["Unnamed: 3"] for r in df.collect()) == ["gap0", "gap1", "gap2"]


def test_header_names_match_the_sniff_not_the_raw_cells(spark, tmp_path):
    """The sniff strips header cells before matching, so the columns are
    named from the stripped cells too: a sheet whose header says
    ``"Ticket Number "`` reads into the same frame and column as a clean
    one."""
    width = len(TRAIN_LIST_HEADER)
    padded = [c + " " if c == "Ticket Number" else c for c in TRAIN_LIST_HEADER]
    ticket = TRAIN_LIST_HEADER.index("Ticket Number")

    def rows(header, tag):
        data = [[""] * width for _ in range(2)]
        for i, row in enumerate(data):
            row[ticket] = f"{tag}{i}"
        return [header] + data

    xlsx_lite.write_xlsx(
        str(tmp_path / "tl.xlsx"),
        {"clean": rows(list(TRAIN_LIST_HEADER), "c"), "padded": rows(padded, "p")},
    )
    refs = discover_reports(str(tmp_path))["train_list"]
    assert len(refs) == 2
    df = read_report(spark, refs)
    assert df.columns == list(TRAIN_LIST_HEADER)
    assert sorted(r["Ticket Number"] for r in df.collect()) == ["c0", "c1", "p0", "p1"]


def test_archive_inputs_moves_and_overwrites(tmp_path):
    src = tmp_path / "in"
    dest = tmp_path / "data"
    src.mkdir()
    f1 = src / "a.xlsx"
    f2 = src / "b.xlsx"
    f1.write_text("new-a")
    f2.write_text("new-b")
    dest.mkdir()
    (dest / "a.xlsx").write_text("stale")  # overwritten, as in the reference

    moved = archive_inputs([str(f1), str(f2), str(src / "missing.xlsx")], str(dest))
    assert sorted(moved) == [str(dest / "a.xlsx"), str(dest / "b.xlsx")]
    assert not f1.exists() and not f2.exists()
    assert (dest / "a.xlsx").read_text() == "new-a"
    # second call with already-moved sources is a no-op (idempotent)
    assert archive_inputs([str(f1)], str(dest)) == []


def test_ooxml_escape_sequences_roundtrip(tmp_path):
    """OOXML _xHHHH_ escaping (ECMA-376 §22.4.2.4): control chars and
    CR survive the write→read round trip, literal text that merely
    LOOKS like an escape is protected (_x005F_), and a file written by
    another tool with such escapes decodes correctly."""
    vals = [
        "bell\x07bs\x08",
        "cr\rlf\n tab\t",
        "_x0041_",          # literal text shaped like an escape — not an 'A'
        "_x005F_x0041_",    # pre-escaped literal
        "__x__", "_x12_", "_x12345_",  # near-misses stay untouched
    ]
    path = xlsx_lite.write_xlsx(str(tmp_path / "esc.xlsx"), {"S": [[v] for v in vals]})
    got = [r[0] for r in xlsx_lite.iter_rows(path, "S")]
    assert got == vals
    # decode path against foreign-written escapes
    from train_reports_etl_spark.sources.xlsx_lite import _ooxml_unescape

    assert _ooxml_unescape("a_x000D_b") == "a\rb"
    assert _ooxml_unescape("_x005F_x0041_") == "_x0041_"
    assert _ooxml_unescape("_x0041_") == "A"
