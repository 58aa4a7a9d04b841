"""Seeded NCA release deliveries for the ingest workload.

A release is a PDF listing of NCA records in the DBM layout: a header
line naming the eight kept columns (repeated on every page), then per
record one line with the record fields, an optional wrap line that
continues ``department`` and ``purpose``, and one line per allocation.
Allocations of one record are separated by a line that carries only
stray text in the ``purpose`` column: the cleaner splits allocations on
lines whose agency, operating unit and amount are all empty, and two
allocation lines with nothing between them would be joined into one
unparseable amount and dropped. The stray text sits after the first
empty ``purpose`` cell, so the cleaner's leading-run rule keeps it out
of the record.

A ``Release`` carries the records and allocations the cleaner must
produce from its PDF; ``history`` gives the releases loaded before the
benchmark starts, which ``write_store`` puts straight into the store's
parquet layout.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

COLUMN_X = [40, 150, 260, 370, 480, 590, 700, 810]
HEADER = [
    "NCA Number", "NCA Type", "Released Date", "Department",
    "Agency", "Operating Unit", "Amount", "Purpose",
]
PAGE_SIZE = (1200.0, 792.0)
TOP_Y, LINE_H, BOTTOM_Y = 760, 20, 40
FONT = 11

NCA_TYPES = ["Regular", "TR", "SARO", "MDS", "PS"]
DEPARTMENTS = ["DepEd", "DOH", "DPWH", "DA", "DILG", "DSWD", "DOTr", "DENR"]
DEPT_WRAP = ["Central Office", "Regional", "Attached Units", "Field Offices"]
AGENCIES = ["OSEC", "Regional Office", "Bureau of Works", "Health Center"]
PURPOSES = [
    "To cover personnel services",
    "To cover operating expenses",
    "For capital outlay requirements",
    "For payment of accounts payable",
]
PURPOSE_WRAP = ["for the first quarter", "of the current year", "per approved plan"]
STRAY = ["(continued)", "see attached list", "-"]

RELEASE_TYPE = pa.schema(
    [
        ("id", pa.string()),
        ("page_count", pa.int32()),
        ("file_meta_created_at", pa.string()),
        ("file_meta_modified_at", pa.string()),
    ]
)
RECORD_TYPE = pa.schema(
    [
        ("nca_number", pa.string()),
        ("nca_type", pa.string()),
        ("released_date", pa.string()),
        ("department", pa.string()),
        ("purpose", pa.string()),
        ("release_id", pa.string()),
    ]
)
ALLOCATION_TYPE = pa.schema(
    [
        ("nca_number", pa.string()),
        ("agency", pa.string()),
        ("operating_unit", pa.string()),
        ("amount", pa.float64()),
        ("release_id", pa.string()),
    ]
)


@dataclass
class Release:
    """One version of a release: its rows and its PDF metadata."""

    rid: str
    version: int
    pages: list[list[list[str]]]  # page -> line -> 8 cells ("" = blank)
    records: list[tuple]
    allocations: list[tuple]
    created: str
    modified: str

    @property
    def page_count(self) -> int:
        return len(self.pages)

    def release_row(self) -> tuple:
        return (self.rid, self.page_count, self.created, self.modified)

    def pdf(self) -> bytes:
        from dbm_nca_ph_etl_spark.sources.minipdf import write_simple_pdf

        runs = []
        for lines in self.pages:
            page = []
            for i, cells in enumerate([HEADER] + lines):
                y = TOP_Y - i * LINE_H
                page += [(x, y, FONT, c) for x, c in zip(COLUMN_X, cells) if c]
            runs.append(page)
        return write_simple_pdf(
            runs, media_box=PAGE_SIZE, created=self.created, modified=self.modified
        )

    def row_bytes(self) -> int:
        """Logical size of the rows this release delivers: string
        bytes plus eight bytes per amount."""
        n = sum(len(v.encode()) for r in self.records for v in r if v)
        return n + sum(
            len(a[0]) + len(a[1]) + len(a[2]) + 8 + len(a[4]) for a in self.allocations
        )


def _amount(rng: random.Random) -> tuple[str, float]:
    cents = rng.randrange(100_000, 5_000_000_000)
    return f"{cents // 100:,}.{cents % 100:02d}", cents / 100


def _date(rng: random.Random) -> tuple[str, str]:
    d = dt.date(2020, 1, 1) + dt.timedelta(days=rng.randrange(6 * 365))
    text = d.strftime("%m/%d/%Y") if rng.random() < 0.7 else f"{d:%B} {d.day}, {d.year}"
    return text, f"{d.isoformat()}T00:00:00"


def _meta(rng: random.Random, version: int) -> tuple[str, str]:
    day = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(365))
    created = f"D:{day:%Y%m%d}090000+08'00'"
    modified = f"D:{day:%Y%m%d}{10 + version:02d}0000+08'00'"
    return created, modified


def make_release(idx: int, version: int, n_pages: int, seed: int) -> Release:
    """Release ``idx`` at ``version`` with exactly ``n_pages`` pages.
    Deterministic in (idx, version, n_pages, seed); a higher version
    keeps the creation date, drifts ``/ModDate`` and redraws the rows."""
    rid = f"R{idx:05d}"
    rng = random.Random(f"{seed}/{idx}/{version}")
    created, _ = _meta(random.Random(f"{seed}/{idx}"), 0)
    _, modified = _meta(random.Random(f"{seed}/{idx}"), version)
    per_page = (TOP_Y - BOTTOM_Y) // LINE_H
    lines: list[list[str]] = [
        ["", "", "", "", "", "", "", "LIST OF NOTICES OF CASH ALLOCATION"]
    ]
    records, allocations = [], []
    k = 0
    while len(lines) < n_pages * per_page - 8:
        nca = f"N{idx:05d}-{k:03d}"
        k += 1
        date_text, date_iso = _date(rng)
        nca_type = rng.choice(NCA_TYPES)
        dept = [rng.choice(DEPARTMENTS)]
        purpose = [rng.choice(PURPOSES)]
        # A record line that ends a page is followed by the next page's
        # header, before which the cleaner inserts a group spacer; the
        # spacer ends the leading run, so a wrap line there is not joined.
        ends_page = len(lines) % per_page == per_page - 1
        lines.append([nca, nca_type, date_text, dept[0], "", "", "", purpose[0]])
        if rng.random() < 0.3:
            wrap_dept, wrap_purpose = rng.choice(DEPT_WRAP), rng.choice(PURPOSE_WRAP)
            lines.append(["", "", "", wrap_dept, "", "", "", wrap_purpose])
            if not ends_page:
                dept.append(wrap_dept)
                purpose.append(wrap_purpose)
        for j in range(rng.choice([1, 1, 2, 3])):
            if j:
                lines.append(["", "", "", "", "", "", "", rng.choice(STRAY)])
            agency = rng.choice(AGENCIES)
            unit = f"OU-{rng.randrange(10_000):04d}"
            text, value = _amount(rng)
            lines.append(["", "", "", "", agency, unit, text, ""])
            allocations.append((nca, agency, unit, value, rid))
        records.append(
            (nca, nca_type, date_iso, " ".join(dept), " ".join(purpose), rid)
        )
    pages = [lines[i : i + per_page] for i in range(0, len(lines), per_page)]
    return Release(rid, version, pages, records, allocations, created, modified)


def history(n_releases: int, seed: int) -> list[Release]:
    """Releases already in the store when the benchmark starts (1-4
    pages each; ids ``R00000`` upwards)."""
    rng = random.Random(f"{seed}/history")
    return [make_release(i, 0, rng.randint(1, 4), seed) for i in range(n_releases)]


def write_store(base: str, releases: list[Release]) -> None:
    """Write ``releases`` as the store's release/record/allocation
    parquet directories (the POSIX layout ``sinks.merge`` reads)."""
    cols = {
        "release": (RELEASE_TYPE, [r.release_row() for r in releases]),
        "record": (RECORD_TYPE, [x for r in releases for x in r.records]),
        "allocation": (ALLOCATION_TYPE, [x for r in releases for x in r.allocations]),
    }
    for table, (schema, rows) in cols.items():
        os.makedirs(os.path.join(base, table), exist_ok=True)
        data = {f.name: [row[i] for row in rows] for i, f in enumerate(schema)}
        pq.write_table(
            pa.table(data, schema=schema),
            os.path.join(base, table, "part-00000-history.parquet"),
        )
