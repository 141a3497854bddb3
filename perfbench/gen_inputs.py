"""Seeded input generators: the xlsx report inbox and the parquet tables.

The same seed gives byte-identical files (zip member timestamps are
pinned, parquet carries no clock). Both generators reuse the row
builders the repository already trusts:

- the inbox calls ``tools/report_rehearsal``'s sheet builders, which
  count every defect they plant, so the report checks are exact
  equalities;
- the tables call ``tools/gen_scaledata``'s ``gen_star``,
  ``gen_documents``, ``gen_embeddings`` and ``gen_events``.
"""

from __future__ import annotations

import os
import random
import zipfile

import numpy as np
import pyarrow.parquet as pq

from tools import gen_scaledata, report_rehearsal
from train_reports_etl_spark.sources import xlsx_lite
from train_reports_etl_spark.sources.report_reader import MIN_ROWS_PER_TASK

#: Train-list workbooks (two sheets each), BPD and occupancy workbooks.
N_TL_FILES, N_BPD_FILES, N_OCC_FILES = 6, 4, 4
#: Cross-file COPY2 rows appended to each odd train-list file.
N_COPY2 = 20

#: Table sizes: the star at gen_scaledata's sf0.1 row counts times
#: ``star_mult`` (0.1 is the sf0.01 star), then documents, embeddings
#: and events rows.
TABLES = {"star_mult": 0.1, "documents": 500, "embeddings": 500, "events": 10_000}

_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def _pin_zip_times(path: str) -> None:
    """Rewrite a zip with every member dated 1980-01-01, so a workbook's
    bytes depend only on its content."""
    with zipfile.ZipFile(path) as zf:
        members = [(i.filename, zf.read(i)) for i in zf.infolist()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)


def _write_workbook(path: str, sheets: dict[str, list[list]]) -> None:
    xlsx_lite.write_xlsx(path, sheets)
    _pin_zip_times(path)


def make_inbox(inbox: str, seed: int, n_tl_files: int = N_TL_FILES,
               n_bpd_files: int = N_BPD_FILES, n_occ_files: int = N_OCC_FILES) -> dict:
    """Write the report inbox into ``inbox`` and return the expected
    outcome of one run over it.

    Layout: ``n_tl_files`` train-list workbooks of two sheets (two of
    the sheets exceed ``MIN_ROWS_PER_TASK`` so they read as several row
    tiers; the rest are small), ``n_bpd_files`` BPD and ``n_occ_files``
    occupancy workbooks of one sheet, and one corrupt ``.xlsx``. Each
    odd train-list file re-carries ``N_COPY2`` tickets of its even twin
    with a later departure (cross-file keep-last). The seed picks the
    sheet indices (which set ids, days and trains) and row counts.
    """
    rng = random.Random(seed)
    os.makedirs(inbox)
    expected = {
        "tl_err": 0, "tl_dup": 0, "bpd_err": 0, "bpd_clean": 0,
        "occ_err": 0, "occ_dup": 0, "copy2_tickets": [],
    }
    # Sheet indices set ticket ids (3-digit field), days and trains.
    base = rng.randrange(0, 900 - 2 * n_tl_files)
    tl_total = 0
    pending_copy: list[list] | None = None
    big = set(rng.sample(range(2 * n_tl_files), 2))
    for f in range(n_tl_files):
        sheets = {}
        for s in range(2):
            si = base + f * 2 + s
            if f * 2 + s in big:
                n = MIN_ROWS_PER_TASK + rng.randrange(200, 800)
            else:
                n = rng.randrange(150, 400)
            rows = report_rehearsal._tl_sheet(si, n, expected)
            tl_total += n
            if s == 0:
                if f % 2 == 1 and pending_copy is not None:
                    copies = report_rehearsal._tl_copy_rows(pending_copy, N_COPY2, expected)
                    rows += copies
                    tl_total += len(copies)
                else:
                    pending_copy = rows
            sheets[f"TL{s}"] = rows
        _write_workbook(os.path.join(inbox, f"train_list_{f:03d}.xlsx"), sheets)
    for f in range(n_bpd_files):
        rows = report_rehearsal._bpd_sheet(base + f, rng.randrange(200, 500), expected)
        _write_workbook(os.path.join(inbox, f"bpd_{f:03d}.xlsx"), {"BPD": rows})
    occ_total = 0
    for f in range(n_occ_files):
        n = rng.randrange(200, 500)
        rows = report_rehearsal._occ_sheet(base + f, n, expected)
        occ_total += n
        _write_workbook(os.path.join(inbox, f"occupancy_{f:03d}.xlsx"), {"OCC": rows})
    with open(os.path.join(inbox, "corrupt.xlsx"), "wb") as fh:
        fh.write(b"not a zip archive")
    copy2 = expected.pop("copy2_tickets")
    return expected | {
        "tl_total": tl_total,
        "tl_clean": tl_total - expected["tl_err"] - expected["tl_dup"],
        "bpd_total": expected["bpd_clean"] + expected["bpd_err"],
        "occ_total": occ_total,
        "occ_clean": occ_total - expected["occ_err"] - expected["occ_dup"],
        "copy2_tickets": sorted(copy2),
        "n_sheets": 2 * n_tl_files + n_bpd_files + n_occ_files,
        "n_files": n_tl_files + n_bpd_files + n_occ_files + 1,
    }


def make_tables(out: str, seed: int, sizes: dict = TABLES) -> list[str]:
    """Write the star, documents, embeddings and events tables of
    ``sizes`` as one parquet file each into ``out``; returns the table
    names."""
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    tables = dict(gen_scaledata.gen_star(sizes["star_mult"], rng))
    tables["documents"] = gen_scaledata.gen_documents(sizes["documents"], rng)
    tables["embeddings"] = gen_scaledata.gen_embeddings(sizes["embeddings"], rng)
    tables["events"] = gen_scaledata.gen_events(sizes["events"], rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return sorted(tables)
