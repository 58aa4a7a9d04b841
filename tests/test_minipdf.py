"""Golden tests for the REAL PDF extraction path (S5/S6/S8/S9).

The reference pins its behavior on pdfplumber geometry over real DBM
releases and ships one fixture (`/root/reference/UPDATED_NCA.PDF`).
pdfplumber is not installed in this container, so these tests drive
the stdlib-only :mod:`minipdf` extractor instead — and the headline
assertion is that its measured column x-positions reproduce the
reference's own pdfplumber-measured ``VERT_LINES`` constants
(constants.py:12-22) DIGIT-FOR-DIGIT, which pins the whole matrix
pipeline (Tm × CTM × /Rotate 90 derotation) against an independent
implementation.
"""

from __future__ import annotations

import os

import pytest

from dbm_nca_ph_etl_spark.nca.cleaner import clean_allocations, clean_records
from dbm_nca_ph_etl_spark.sources.minipdf import MiniPdf
from dbm_nca_ph_etl_spark.sources.pdf_source import (
    REFERENCE_VERT_LINES,
    detect_vert_lines,
    extract_raw_cells_from_paths,
    get_parser,
    make_fake_pdf,
    read_pdf_binaries,
    sniff,
    with_pdf_info,
)

FIXTURE = "/root/reference/UPDATED_NCA.PDF"

pytestmark = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason="reference fixture not present"
)


@pytest.fixture(scope="module")
def pdf_bytes() -> bytes:
    with open(FIXTURE, "rb") as f:
        return f.read()


def stage(spark, lake, blobs: dict, parser=None):
    """Write ``{release_id: bytes}`` as ``<release_id>.pdf`` files into
    ``lake`` and scan them as the extraction takes them."""
    lake.mkdir(exist_ok=True)
    for rid, blob in blobs.items():
        (lake / f"{rid}.pdf").write_bytes(blob)
    return with_pdf_info(read_pdf_binaries(spark, str(lake)), parser or sniff)


# The full table of the fixture page, as pdfplumber's explicit-
# vertical-lines + text-rows strategy renders it: one header line,
# then one NCA record wrapped over three text lines. The NCA NUMBER
# and OPERATING UNIT cells are genuinely empty in this release.
GOLDEN_TABLE = [
    [
        "NCA NUMBER", "NCA TYPE", "RELEASED DATE", "DEPARTMENT",
        "AGENCY", "OPERATING UNIT", "AMOUNT", "PURPOSE",
    ],
    [
        None, "TR", "01/15/2026", "Other Executive Offices",
        "Governance Commission", None, "1,626,450.00",
        "To cover the payment of refund of the retention fee to",
    ],
    [
        None, None, None, "(OEOs)", "for Government-Owned or", None,
        None, "Trends & Technologies, Inc., relative to the completion of",
    ],
    [
        None, None, None, None, "Controlled Corporations", None, None,
        "one of the GCG-procured projects",
    ],
]


class TestMiniPdfGolden:
    def test_page_count_and_metadata(self, pdf_bytes):
        doc = MiniPdf(pdf_bytes)
        assert doc.page_count == 1
        created, modified = doc.metadata()
        # S5 parity: the raw /CreationDate //ModDate strings pypdf
        # would return (reference pdf_parser.py:23-32)
        assert created == "D:20260221090500+08'00'"
        assert modified == "D:20260221090500+08'00'"

    def test_displayed_page_size_respects_rotate(self, pdf_bytes):
        # MediaBox is 792x1224 portrait + /Rotate 90 -> displayed
        # landscape 1224x792, pdfplumber's page.width/height
        assert MiniPdf(pdf_bytes).page_size(1) == (1224.0, 792.0)

    def test_vert_line_detection_matches_reference_constants(self, pdf_bytes):
        """S9 golden parity: adaptive detection over minipdf's word
        stream reproduces the x-positions the reference measured with
        pdfplumber on (a copy of) this very layout — exactly, not
        approximately. VERT_LINES[:8] are the eight detected header
        x0s; the reference's ninth entry (1100.0) is a hand-picked
        right edge while detection appends page.width-1."""
        doc = MiniPdf(pdf_bytes)
        detected = detect_vert_lines(doc.extract_words(1), doc.page_size(1)[0])
        assert detected[:8] == REFERENCE_VERT_LINES[:8]
        assert detected[8] == 1224.0 - 1

    def test_extract_table_golden(self, pdf_bytes):
        assert MiniPdf(pdf_bytes).extract_page(1) == GOLDEN_TABLE

    def test_char_level_column_slicing(self, pdf_bytes):
        """The fixture kerns the purpose text directly after the
        amount digits with NO space glyph (one TJ array); only
        char-level cell slicing separates '1,626,450.00' from 'To
        cover ...'. A word-level slicer glues them — this pins the
        regression."""
        row = MiniPdf(pdf_bytes).extract_page(1)[1]
        assert row[6] == "1,626,450.00"
        assert row[7].startswith("To cover")

    def test_layout_detected_once_per_file(self, pdf_bytes, monkeypatch):
        from dbm_nca_ph_etl_spark.sources import pdf_source

        calls = []

        def counting(words, page_width):
            calls.append(page_width)
            return detect_vert_lines(words, page_width)

        monkeypatch.setattr(pdf_source, "detect_vert_lines", counting)
        doc = MiniPdf(pdf_bytes)
        doc.extract_page(1)
        doc.extract_page(1)
        assert len(calls) == 1


class TestRealPdfThroughSpark:
    """The real extraction path end-to-end on the cluster side:
    lake blob -> binaryFile scan -> page-count pass -> batch fan-out
    -> mapInPandas extract -> the cleaner."""

    def _files_df(self, spark, pdf_bytes, tmp_path):
        return stage(spark, tmp_path / "lake", {"UPDATED_NCA": pdf_bytes})

    def test_extract_raw_cells_real_pdf(self, spark, pdf_bytes, tmp_path):
        parser = get_parser("auto")
        rows = (
            extract_raw_cells_from_paths(self._files_df(spark, pdf_bytes, tmp_path), parser)
            .orderBy("page_num", "row_idx")
            .collect()
        )
        assert [list(r.cells) for r in rows] == GOLDEN_TABLE
        assert [r.row_idx for r in rows] == [0, 1, 2, 3]
        assert all(r.release_id == "UPDATED_NCA" for r in rows)

    def test_with_pdf_info_real_pdf(self, spark, pdf_bytes, tmp_path):
        info = self._files_df(spark, pdf_bytes, tmp_path).collect()[0]
        assert info.page_count == 1
        assert info.file_meta_created_at == "D:20260221090500+08'00'"

    def test_mixed_lake_sniffing(self, spark, pdf_bytes, tmp_path):
        """One extract pass over a lake holding both a real PDF and a
        FAKEPDF blob — ``sniff`` dispatches per blob."""
        fake = make_fake_pdf([[["NCA-1", "x"], ["NCA-2", "y"]]])
        files = stage(spark, tmp_path / "lake", {"real": pdf_bytes, "fake": fake})
        rows = (
            extract_raw_cells_from_paths(files, sniff)
            .orderBy("release_id", "page_num", "row_idx")
            .collect()
        )
        by_rid = {}
        for r in rows:
            by_rid.setdefault(r.release_id, []).append(list(r.cells))
        assert by_rid["fake"] == [["NCA-1", "x"], ["NCA-2", "y"]]
        assert by_rid["real"] == GOLDEN_TABLE

    def test_cleaner_on_real_release(self, spark, pdf_bytes, tmp_path):
        """Reference semantics on this fixture: the NCA NUMBER cell is
        empty on every row, forward-fill yields no key, and both
        cleaners drop keyless rows (pd_data_cleaner.py:31-33 dropna on
        the groupby key) — so the release cleans to ZERO records and
        allocations, without erroring. That null-group-drop behavior
        is exactly SURVEY P5."""
        from dbm_nca_ph_etl_spark.nca.cleaner import promote_header

        raw = extract_raw_cells_from_paths(
            self._files_df(spark, pdf_bytes, tmp_path), get_parser("auto")
        )
        named = promote_header(raw)
        assert clean_records(named).count() == 0
        assert clean_allocations(named).count() == 0


class TestWriterRoundTrip:
    """write_simple_pdf emits genuine PDF 1.4 bytes (classic xref,
    uncompressed streams, base-14 font) — multi-page and rotation
    coverage for the real parser that the single-page reference
    fixture can't provide."""

    def _three_page_pdf(self):
        from dbm_nca_ph_etl_spark.sources.minipdf import write_simple_pdf

        header = [(50, 700, 12, "NCA Number"), (150, 700, 12, "Amount")]
        return write_simple_pdf(
            [
                header + [(50, 680, 12, "NCA-1"), (150, 680, 12, "100.50")],
                [(50, 700, 12, "NCA-2"), (150, 700, 12, "200.00")],
                [(50, 700, 12, "NCA-3"), (150, 700, 12, "300.25")],
            ],
            created="D:20260101000000",
            modified="D:20260102000000",
        )

    def test_metadata_and_page_order(self):
        from dbm_nca_ph_etl_spark.sources.minipdf import MiniPdf

        doc = MiniPdf(self._three_page_pdf())
        assert doc.page_count == 3
        assert doc.metadata() == ("D:20260101000000", "D:20260102000000")
        assert [w["text"] for w in doc.extract_words(3)] == ["NCA-3", "300.25"]

    def test_extract_table_multi_page(self):
        from dbm_nca_ph_etl_spark.sources.minipdf import MiniPdf

        doc = MiniPdf(self._three_page_pdf())
        vert = [45.0, 145.0, 300.0]
        assert doc.extract_table(1, vert) == [
            ["NCA Number", "Amount"],
            ["NCA-1", "100.50"],
        ]
        assert doc.extract_table(2, vert) == [["NCA-2", "200.00"]]

    def test_rotated_page_derotates_like_the_fixture(self):
        """Text placed along device-y on a /Rotate 90 page reads as
        normal left-to-right rows — the DBM landscape layout shape."""
        from dbm_nca_ph_etl_spark.sources.minipdf import (
            MiniPdf,
            write_simple_pdf,
        )

        pdf = write_simple_pdf(
            # device coords: y becomes display x after derotation
            [[(700, 30, 12, "A"), (700, 130, 12, "B"), (650, 30, 12, "C")]],
            media_box=(792, 1224),
            rotate=90,
        )
        doc = MiniPdf(pdf)
        assert doc.page_size(1) == (1224.0, 792.0)
        words = doc.extract_words(1)
        by_text = {w["text"]: w for w in words}
        # device y becomes display x; device x becomes display top
        # (larger device x = further down the derotated page, the
        # reading order of the DBM fixture)
        assert by_text["A"]["x0"] == 30.0
        assert by_text["B"]["x0"] == 130.0
        assert by_text["C"]["top"] < by_text["A"]["top"]  # 650 < 700 device-x

    def test_spark_batching_over_real_format_pages(self, spark, tmp_path):
        """3-page real-format PDF through the page-batch fan-out
        (batch_size=2 -> batches [1-2], [3]) and mapInPandas extract."""
        from dbm_nca_ph_etl_spark.sources.releases import plan_page_batches

        pdf = self._three_page_pdf()
        parser = get_parser("minipdf")
        files = stage(spark, tmp_path / "lake", {"R1": pdf}, parser)
        batches = plan_page_batches(files, batch_size=2).collect()
        assert [(b.batch_num, b.start_page_num, b.end_page_num) for b in batches] == [
            (1, 1, 2),
            (2, 3, 3),
        ]
        rows = (
            extract_raw_cells_from_paths(files, parser, batch_size=2)
            .orderBy("page_num", "row_idx")
            .collect()
        )
        # adaptive detection finds 'NCA Number' (x0=50) and 'Amount'
        # (x0=150) on page 1 -> a 2-column layout applied to all pages
        assert [(r.page_num, r.row_idx, list(r.cells)) for r in rows] == [
            (1, 0, ["NCA Number", "Amount"]),
            (1, 1, ["NCA-1", "100.50"]),
            (2, 0, ["NCA-2", "200.00"]),
            (3, 0, ["NCA-3", "300.25"]),
        ]


class TestWriterParserProperty:
    """Property: any grid of printable words written by
    write_simple_pdf reads back in exact reading order."""

    def test_roundtrip_random_grids(self):
        from hypothesis import given, settings, strategies as st

        from dbm_nca_ph_etl_spark.sources.minipdf import (
            MiniPdf,
            write_simple_pdf,
        )

        word = st.text(
            alphabet=st.characters(
                min_codepoint=33, max_codepoint=126
            ),  # printable ASCII, no spaces
            min_size=1,
            max_size=8,
        )

        @settings(max_examples=25, deadline=None)
        @given(
            grid=st.lists(  # pages
                st.lists(word, min_size=1, max_size=4),  # rows of words
                min_size=1,
                max_size=3,
            )
        )
        def check(grid):
            pages = []
            for rows in [grid]:
                runs = []
                for r, row_words in enumerate(rows):
                    for c, w in enumerate(row_words):
                        # 100pt column pitch >> max word width (8*6=48)
                        runs.append((50 + 100.0 * c, 700 - 20.0 * r, 12, w))
                pages.append(runs)
            doc = MiniPdf(write_simple_pdf(pages))
            got = [w["text"] for w in doc.extract_words(1)]
            want = [w for row in grid for w in row]
            assert got == want

        check()


class TestCorruptBlobs:
    """One corrupt blob must not go unnoticed: the triage pass
    classifies it, and any pass that opens it fails loudly."""

    def _blobs(self, pdf_bytes):
        return {
            "real": pdf_bytes,
            "fake": make_fake_pdf([[["NCA-7", "ok"]]]),
            "bad": b"NOT A PDF AT ALL \x00\x01\x02",
        }

    def test_parse_status_triage(self, spark, pdf_bytes):
        from dbm_nca_ph_etl_spark.sources.pdf_source import with_parse_status

        lake = spark.createDataFrame(
            [(rid, bytearray(blob)) for rid, blob in self._blobs(pdf_bytes).items()],
            "release_id string, content binary",
        )
        rows = {
            r.release_id: r
            for r in with_parse_status(lake, sniff).collect()
        }
        assert rows["real"].parse_ok and rows["real"].parse_error is None
        assert rows["fake"].parse_ok
        assert not rows["bad"].parse_ok
        assert "ValueError" in rows["bad"].parse_error

    def test_strict_mode_fails_loudly(self, spark, pdf_bytes, tmp_path):
        from py4j.protocol import Py4JJavaError

        lake = tmp_path / "lake"
        lake.mkdir()
        files = []
        for rid, blob in self._blobs(pdf_bytes).items():
            (lake / f"{rid}.pdf").write_bytes(blob)
            files.append((rid, str(lake / f"{rid}.pdf"), 1))
        for run in (
            lambda: stage(spark, tmp_path / "lake", {}).collect(),
            lambda: extract_raw_cells_from_paths(
                spark.createDataFrame(files, "release_id string, path string, page_count int"),
                sniff,
            ).collect(),
        ):
            with pytest.raises(Exception) as ei:
                run()
            assert "not a PDF" in str(ei.value) or isinstance(
                ei.value, Py4JJavaError
            )


def test_paths_variant_on_real_format_pdfs(spark, tmp_path):
    """extract_raw_cells_from_paths (the 100 TB shape: paths through
    the shuffle, task-side re-read) over genuine PDF files on disk."""
    from dbm_nca_ph_etl_spark.sources.minipdf import write_simple_pdf
    from dbm_nca_ph_etl_spark.sources.pdf_source import (
        extract_raw_cells_from_paths,
    )

    paths = []
    for rid, amount in [("R1", "10.00"), ("R2", "20.00")]:
        p = tmp_path / f"{rid}.pdf"
        p.write_bytes(
            write_simple_pdf(
                [
                    [(50, 700, 12, "NCA Number"), (150, 700, 12, "Amount")],
                    [(50, 700, 12, f"NCA-{rid}"), (150, 700, 12, amount)],
                ]
            )
        )
        paths.append((rid, str(p), 2))
    files = spark.createDataFrame(paths, "release_id string, path string, page_count int")
    rows = (
        extract_raw_cells_from_paths(files, get_parser("minipdf"))
        .orderBy("release_id", "page_num", "row_idx")
        .collect()
    )
    assert [(r.release_id, r.page_num, list(r.cells)) for r in rows] == [
        ("R1", 1, ["NCA Number", "Amount"]),
        ("R1", 2, ["NCA-R1", "10.00"]),
        ("R2", 1, ["NCA Number", "Amount"]),
        ("R2", 2, ["NCA-R2", "20.00"]),
    ]


def test_real_pdf_scrape_to_store_end_to_end(spark, tmp_path):
    """The whole reference pipeline on genuine PDF bytes: PDFs on
    disk -> path-loading extraction (minipdf) -> header promotion ->
    raw-rows inbox -> streaming micro-batch pipeline -> three-table
    store. No FAKEPDF anywhere."""
    from dbm_nca_ph_etl_spark.nca.cleaner import promote_header
    from dbm_nca_ph_etl_spark.sinks.merge import NCAStore
    from dbm_nca_ph_etl_spark.sources.minipdf import write_simple_pdf
    from dbm_nca_ph_etl_spark.sources.pdf_source import (
        extract_raw_cells_from_paths,
    )
    from dbm_nca_ph_etl_spark.streaming.nca_stream import run_nca_pipeline

    xs = [40, 150, 260, 370, 480, 590, 700, 810]
    header = [
        (xs[0], 760, 11, "NCA Number"), (xs[1], 760, 11, "NCA Type"),
        (xs[2], 760, 11, "Released Date"), (xs[3], 760, 11, "Department"),
        (xs[4], 760, 11, "Agency"), (xs[5], 760, 11, "Operating Unit"),
        (xs[6], 760, 11, "Amount"), (xs[7], 760, 11, "Purpose"),
    ]
    page = header + [
        # record row for NCA-101
        (xs[0], 740, 11, "NCA-101"), (xs[1], 740, 11, "TR"),
        (xs[2], 740, 11, "01/15/2026"), (xs[3], 740, 11, "Dept of Health"),
        (xs[7], 740, 11, "To cover ops"),
        # its allocation
        (xs[4], 720, 11, "AG-1"), (xs[5], 720, 11, "OU-1"),
        (xs[6], 720, 11, "600.00"),
        # record row for NCA-202
        (xs[0], 700, 11, "NCA-202"), (xs[1], 700, 11, "SARO"),
        (xs[2], 700, 11, "02/20/2026"), (xs[3], 700, 11, "Dept of Edu"),
        (xs[7], 700, 11, "To cover books"),
        (xs[4], 680, 11, "AG-2"), (xs[5], 680, 11, "OU-2"),
        (xs[6], 680, 11, "1,250.50"),
    ]
    pdf_path = tmp_path / "NCA_2026.pdf"
    pdf_path.write_bytes(write_simple_pdf([page], media_box=(1200, 792)))

    files = with_pdf_info(read_pdf_binaries(spark, str(pdf_path)), get_parser("auto"))
    raw = extract_raw_cells_from_paths(files, get_parser("auto"))
    named = promote_header(raw)

    inbox = str(tmp_path / "inbox")
    named.coalesce(1).write.mode("overwrite").parquet(inbox)
    store = NCAStore(spark, str(tmp_path / "store"))
    run_nca_pipeline(spark, inbox, store, str(tmp_path / "ckpt"))

    records = {r.nca_number: r for r in store.read("record").collect()}
    assert set(records) == {"NCA-101", "NCA-202"}
    assert records["NCA-101"].department == "Dept of Health"
    assert records["NCA-101"].released_date == "2026-01-15T00:00:00"
    assert records["NCA-202"].purpose == "To cover books"
    allocs = {r.nca_number: r for r in store.read("allocation").collect()}
    assert allocs["NCA-101"].agency == "AG-1"
    assert allocs["NCA-101"].amount == 600.0
    assert allocs["NCA-202"].operating_unit == "OU-2"
    assert allocs["NCA-202"].amount == 1250.5


# NOTE (r9): the optional PdfplumberParser branch was removed — the
# container never ships the library, so its parity test skipped
# forever (the gate's standing "1 skipped"). MiniPdf is THE
# real parser, golden-pinned above to the same fixture geometry the
# reference measured with pdfplumber; pdfplumber_table_settings in
# sources/pdf_source.py stays as the documented extraction contract.
