"""Ingestion-edge tests: release derivation (S1/S2), page batching
(T2/F13), and the PDF table source plumbing (S5-S9) via the
deterministic FAKEPDF parser.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.nca import clean_raw_rows, promote_header
from dbm_nca_ph_etl_spark.sources.pdf_source import (
    REFERENCE_VERT_LINES,
    FakeDoc,
    detect_vert_lines,
    extract_raw_cells_from_paths,
    get_parser,
    make_fake_pdf,
    read_pdf_binaries,
    with_pdf_info,
)
from dbm_nca_ph_etl_spark.sources.releases import (
    derive_releases,
    plan_page_batches,
)

LINKS = [
    ("NCA 2024 listing", "https://dbm.gov.example/releases/NCA_2024.pdf"),
    ("NCA 2023 listing", "https://dbm.gov.example/releases/NCA_2023.pdf"),
    ("Updated NCA", "https://dbm.gov.example/releases/UPDATED_NCA.PDF"),
    ("no year", "https://dbm.gov.example/releases/NCA_LATEST.pdf"),
    ("not a pdf", "https://dbm.gov.example/releases/NCA_2024.html"),
    ("not NCA", "https://dbm.gov.example/releases/budget_2024.pdf"),
    ("lowercase ok", "https://dbm.gov.example/r/nca_2025.pdf"),
]


def stage_pdfs(spark, lake, blobs: dict, parser=None):
    """Write ``{file name: bytes}`` into the directory ``lake`` and scan
    it as the extraction takes it: read_pdf_binaries → with_pdf_info."""
    lake.mkdir(exist_ok=True)
    for name, blob in blobs.items():
        (lake / name).write_bytes(blob)
    return with_pdf_info(read_pdf_binaries(spark, str(lake)), parser or FakeDoc)


def raw_rows(df):
    return sorted(
        (r.release_id, r.page_num, r.row_idx, list(r.cells)) for r in df.collect()
    )


def links_df(spark):
    return spark.createDataFrame(
        [Row(title=t, url=u) for t, u in LINKS], "title string, url string"
    )


class TestDeriveReleases:
    def test_derivation(self, spark):
        out = derive_releases(
            links_df(spark), current_year=2026, oldest_year=2024
        ).collect()
        by_file = {r.filename: r for r in out}
        # kept: NCA_2024.pdf (2024), UPDATED (→2026), nca_2025.pdf
        assert set(by_file) == {"NCA_2024.pdf", "UPDATED_NCA.PDF", "nca_2025.pdf"}
        assert by_file["NCA_2024.pdf"].year == 2024
        assert by_file["NCA_2024.pdf"].id == "id_2024"
        assert by_file["UPDATED_NCA.PDF"].year == 2026
        assert by_file["nca_2025.pdf"].id == "id_2025"

    def test_oldest_year_filter(self, spark):
        years = {
            r.year
            for r in derive_releases(
                links_df(spark), current_year=2026, oldest_year=2023
            ).collect()
        }
        assert years == {2023, 2024, 2025, 2026}


class TestPlanPageBatches:
    def test_ranges(self, spark):
        rel = spark.createDataFrame(
            [Row(id="a", page_count=23), Row(id="b", page_count=10), Row(id="c", page_count=0)]
        )
        out = plan_page_batches(rel, batch_size=10).collect()
        got = sorted((r.id, r.batch_num, r.start_page_num, r.end_page_num) for r in out)
        assert got == [
            ("a", 1, 1, 10),
            ("a", 2, 11, 20),
            ("a", 3, 21, 23),
            ("b", 1, 1, 10),
        ]


PAGE1 = [
    ["NCA Number", "NCA Type", "Released Date"],
    ["NCA-1", "Regular", "01/15/2024"],
    [None, "wrapped", None],
]
PAGE2 = [
    ["NCA-2", "Special", "02/20/2024"],
]


class TestFakePdf:
    def test_roundtrip(self):
        blob = make_fake_pdf([PAGE1, PAGE2], created_at="D:2024", modified_at="D:2025")
        doc = FakeDoc(blob)
        assert doc.page_count == 2
        assert doc.metadata() == ("D:2024", "D:2025")
        assert doc.extract_page(1) == PAGE1
        assert doc.extract_page(2) == PAGE2

    def test_get_parser_sniffs_per_blob(self):
        # auto dispatches per blob, once, when it opens it: FAKEPDF ->
        # the fake codec; real %PDF -> the stdlib minipdf document
        from dbm_nca_ph_etl_spark.sources.minipdf import MiniPdf, write_simple_pdf

        p = get_parser("auto")
        fake = p(make_fake_pdf([[["a"]]]))
        assert isinstance(fake, FakeDoc) and fake.page_count == 1
        real = p(write_simple_pdf([[(50, 700, 12, "a")], [(50, 700, 12, "b")]]))
        assert isinstance(real, MiniPdf) and real.page_count == 2
        assert get_parser("minipdf") is MiniPdf and get_parser("fake") is FakeDoc


class TestExtractRawCells:
    def files(self, spark, tmp_path):
        return stage_pdfs(
            spark,
            tmp_path / "lake",
            {
                "id_2024.pdf": make_fake_pdf([PAGE1, PAGE2]),
                "id_2025.pdf": make_fake_pdf([[["only", "row"]]]),
            },
        )

    def test_order_and_content(self, spark, tmp_path):
        out = extract_raw_cells_from_paths(
            self.files(spark, tmp_path), FakeDoc, batch_size=1
        )
        assert raw_rows(out) == [
            ("id_2024", 1, 0, PAGE1[0]),
            ("id_2024", 1, 1, PAGE1[1]),
            ("id_2024", 1, 2, PAGE1[2]),
            ("id_2024", 2, 0, PAGE2[0]),
            ("id_2025", 1, 0, [["only", "row"]][0]),
        ]

    def test_with_pdf_info(self, spark, tmp_path):
        info = stage_pdfs(
            spark, tmp_path / "lake", {"x.pdf": make_fake_pdf([PAGE1], "c", "m")}
        )
        assert "content" not in info.columns
        out = info.collect()[0]
        assert (
            out.release_id,
            out.page_count,
            out.file_meta_created_at,
            out.file_meta_modified_at,
        ) == ("x", 1, "c", "m")
        assert out.path.startswith("file:") and out.path.endswith("/x.pdf")


class TestEndToEndIngestion:
    def test_pdf_to_clean(self, spark, tmp_path):
        """lake blob → raw cells → promote_header → cleaner: the whole
        reference worker path (handlers/worker.py:48-117) in one plan."""
        doc = [
            [
                "NCA Number", "NCA Type", "Released Date", "Department",
                "Agency", "Operating Unit", "Amount", "Purpose",
            ],
            ["NCA-7", "Regular", "01/15/2024", "DepEd", None, None, None, "To cover"],
            [None, None, None, None, "AG-1", "OU-1", "1,000.50", None],
            [None, None, None, None, None, None, None, None],
            [None, None, None, None, "AG-2", "OU-2", "2000", None],
        ]
        files = stage_pdfs(spark, tmp_path / "lake", {"id_2024.pdf": make_fake_pdf([doc])})
        cells = extract_raw_cells_from_paths(files, FakeDoc)
        records, allocations = clean_raw_rows(promote_header(cells))
        rec = records.collect()
        assert len(rec) == 1 and rec[0].nca_number == "NCA-7"
        assert rec[0].released_date == "2024-01-15T00:00:00"
        allocs = sorted(
            (a.agency, a.operating_unit, a.amount) for a in allocations.collect()
        )
        assert allocs == [("AG-1", "OU-1", 1000.5), ("AG-2", "OU-2", 2000.0)]


def _layout_sensitive_parser():
    """Fake parser mimicking MiniPdf's per-file adaptive layout: each
    opened document detects its 'layout' (the first cell of its
    page-1 header row) on its first page read and tags every emitted
    cell with ``<cell>@<layout>#<detections so far>`` — so a
    cross-file leak (the round-2 bug) shows up as a wrong layout and
    a per-page re-detection as a count above 1. ``detect_calls``
    counts detections across the instance's documents. (Classes are
    defined locally so cloudpickle ships them by value to Spark
    workers, which cannot import the test module.)
    """

    class _LayoutSensitiveDoc(FakeDoc):
        def __init__(self, content, parser):
            super().__init__(content)
            self._parser, self._layout, self._detections = parser, None, 0

        def extract_page(self, page_num):
            if self._layout is None:
                self._parser.detect_calls += 1
                self._detections += 1
                self._layout = FakeDoc.extract_page(self, 1)[0][0]
            tag = f"{self._layout}#{self._detections}"
            return [
                [None if c is None else f"{c}@{tag}" for c in row]
                for row in FakeDoc.extract_page(self, page_num)
            ]

    class _LayoutSensitiveParser:
        def __init__(self):
            self.detect_calls = 0

        def __call__(self, content):
            return _LayoutSensitiveDoc(content, self)

    return _LayoutSensitiveParser()


def _two_layout_pdfs():
    """Two real-format PDFs whose page-1 headers put their columns in
    different places: cut at A's columns, B's data row would merge
    its type and amount cells."""
    from dbm_nca_ph_etl_spark.sources.minipdf import write_simple_pdf

    pdf_a = write_simple_pdf(
        [
            [(50, 700, 12, "NCA Number"), (150, 700, 12, "Amount"),
             (50, 680, 12, "NCA-1"), (150, 680, 12, "10.00")],
            [(50, 700, 12, "NCA-2"), (150, 700, 12, "20.00")],
        ]
    )
    pdf_b = write_simple_pdf(
        [
            [(50, 700, 12, "NCA Number"), (200, 700, 12, "NCA Type"),
             (300, 700, 12, "Amount"),
             (50, 680, 12, "NCA-3"), (200, 680, 12, "TR"), (300, 680, 12, "30.00")],
        ]
    )
    return pdf_a, pdf_b


class TestAdaptiveLayout:
    """S9 parity: reference pdf_parser.py:79-96 semantics + the
    per-file re-detection contract (pdf_parser.py:58-60)."""

    def test_detect_exact_x0_partial_headers_right_edge(self):
        words = [
            {"text": "NCA", "x0": 19.5},
            {"text": "Number", "x0": 40.0},
            {"text": "NCA", "x0": 133.4},
            {"text": "Type", "x0": 150.0},
            {"text": "Amount", "x0": 638.2},
        ]
        lines = detect_vert_lines(words, page_width=1101.0)
        # exact x0 (no -1), partial header set kept as-is, right edge
        # page_width-1 appended — reference pdf_parser.py:90-96
        assert lines == [19.5, 133.4, 638.2, 1100.0]

    def test_zero_match_falls_back_to_reference_constants(self):
        assert detect_vert_lines([], 500.0) == REFERENCE_VERT_LINES
        assert (
            detect_vert_lines([{"text": "unrelated", "x0": 1.0}], 500.0)
            == REFERENCE_VERT_LINES
        )

    def test_pdfplumber_settings_match_reference(self):
        """pdf_parser.py:13-19 settings, digit-for-digit — the
        optional pdfplumber branch calls the public API with exactly
        this tested dict, so the dead-in-container branch can't
        drift silently."""
        from dbm_nca_ph_etl_spark.sources.pdf_source import (
            pdfplumber_table_settings,
        )

        lines = [19.5, 1100.0]
        assert pdfplumber_table_settings(lines) == {
            "vertical_strategy": "explicit",
            "explicit_vertical_lines": lines,
            "horizontal_strategy": "text",
            "intersection_tolerance": 1000,
            "snap_y_tolerance": 3,
        }

    def test_layout_cache_keys_by_content(self, monkeypatch):
        """The layout belongs to the opened blob: a real MiniPdf
        document detects its page-1 columns on its first page read,
        keeps them for its later pages, and a second file detects its
        own."""
        from dbm_nca_ph_etl_spark.sources import pdf_source

        calls = []

        def counting(words, page_width):
            calls.append(page_width)
            return detect_vert_lines(words, page_width)

        monkeypatch.setattr(pdf_source, "detect_vert_lines", counting)
        pdf_a, pdf_b = _two_layout_pdfs()
        p = get_parser("minipdf")
        a, b = p(pdf_a), p(pdf_b)
        assert a.extract_page(1) == [["NCA Number", "Amount"], ["NCA-1", "10.00"]]
        assert b.extract_page(1) == [
            ["NCA Number", "NCA Type", "Amount"],
            ["NCA-3", "TR", "30.00"],
        ]
        assert a.extract_page(2) == [["NCA-2", "20.00"]]
        assert len(calls) == 2

    def test_one_parser_instance_two_files(self):
        """One parser instance (as closed over by a mapInPandas task)
        must apply each file's OWN layout — the round-2 instance-attr
        cache applied file A's layout to file B."""
        p = _layout_sensitive_parser()
        a = p(make_fake_pdf([[["HA", "r1"], ["a", "b"]], [["a2", None]]]))
        b = p(make_fake_pdf([[["HB", "r1"], ["c", "d"]]]))
        assert a.extract_page(1)[1][0] == "a@HA#1"
        assert b.extract_page(1)[1][0] == "c@HB#1"
        assert a.extract_page(2)[0][0] == "a2@HA#1"  # kept, not re-detected
        assert a.extract_page(2)[0][1] is None  # nulls untouched
        assert p.detect_calls == 2

    def test_extract_raw_cells_per_file_layouts(self, spark, tmp_path):
        files = stage_pdfs(
            spark,
            tmp_path / "lake",
            {
                "id_a.pdf": make_fake_pdf([[["HA", "x"], ["1", "2"]], [["3", "4"]]]),
                "id_b.pdf": make_fake_pdf([[["HB", "y"], ["5", "6"]]]),
            },
        ).coalesce(1)
        out = extract_raw_cells_from_paths(files, _layout_sensitive_parser(), batch_size=1)
        tags = {
            (r.release_id, r.page_num, r.row_idx): [c for c in r.cells]
            for r in out.collect()
        }
        assert tags[("id_a", 1, 1)] == ["1@HA#1", "2@HA#1"]
        assert tags[("id_a", 2, 0)] == ["3@HA#1", "4@HA#1"]
        assert tags[("id_b", 1, 1)] == ["5@HB#1", "6@HB#1"]


class TestExtractFromPaths:
    """Path-loading extract (the 100 TB shape): batch rows carry
    (release_id, path, page range); blobs re-read task-side."""

    BLOBS = {
        "id_2024.pdf": make_fake_pdf([PAGE1, PAGE2]),
        "id_2025.pdf": make_fake_pdf([[["only", "row"]]]),
    }

    def test_matches_bytes_variant(self, spark, tmp_path):
        """The extraction equals a plain-Python loop of
        ``doc.extract_page`` over the same files."""
        files = stage_pdfs(spark, tmp_path / "lake", self.BLOBS)
        by_spark = extract_raw_cells_from_paths(files, FakeDoc, batch_size=1)
        by_loop = []
        for name, blob in self.BLOBS.items():
            doc = FakeDoc(blob)
            for page_num in range(1, doc.page_count + 1):
                for row_idx, cells in enumerate(doc.extract_page(page_num)):
                    by_loop.append((name[: -len(".pdf")], page_num, row_idx, cells))
        assert raw_rows(by_spark) == sorted(by_loop)

    def test_no_binary_crosses_the_exchange(self, spark, tmp_path):
        """The whole point: the executed plan must never carry the
        PDF content column — only (release_id, path, page range)
        rows move through the shuffle. The input is a binaryFile scan
        that still has ``content``, so the extraction itself must
        prune it out of the scan."""
        info = stage_pdfs(spark, tmp_path / "lake", self.BLOBS)
        files = read_pdf_binaries(spark, str(tmp_path / "lake")).withColumn(
            "page_count", F.lit(1)
        )
        assert "content" in files.columns
        out = extract_raw_cells_from_paths(files, FakeDoc, batch_size=1)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan  # the batch repartition is there
        assert "content" not in plan  # ...but the binary column never is
        first_pages = [r for r in raw_rows(extract_raw_cells_from_paths(info, FakeDoc))
                       if r[1] == 1]
        assert raw_rows(out) == first_pages

    def test_odd_file_names_read_through_the_seam(self, spark, tmp_path):
        """binaryFile prints a space as it is and keeps ``%20`` as three
        characters; the task-side read must open exactly those files
        (a URI parser rejects the space and decodes ``%20``)."""
        blobs = {"a": make_fake_pdf([PAGE1, PAGE2], "c1", "m1"),
                 "b": make_fake_pdf([[["only", "row"]]], "c2", None)}
        names = {"a": ("NCA 2024", "plain_a"), "b": ("a%20b", "plain_b")}
        odd = stage_pdfs(
            spark, tmp_path / "odd", {f"{names[k][0]}.pdf": v for k, v in blobs.items()}
        )
        plain = stage_pdfs(
            spark, tmp_path / "plain", {f"{names[k][1]}.pdf": v for k, v in blobs.items()}
        )
        to_plain = {o: p for o, p in names.values()}

        def info(df, rename=lambda rid: rid):
            return sorted(
                (rename(r.release_id), r.page_count, r.file_meta_created_at,
                 r.file_meta_modified_at)
                for r in df.collect()
            )

        assert info(odd, to_plain.get) == info(plain)
        got = [
            (to_plain[rid], *rest)
            for rid, *rest in raw_rows(extract_raw_cells_from_paths(odd, FakeDoc))
        ]
        want = raw_rows(extract_raw_cells_from_paths(plain, FakeDoc))
        assert sorted(got) == want and len(want) == 5

    def test_file_uri_paths_read_on_executors(self, spark, tmp_path):
        """Paths spelled as ``file:///…`` URIs resolve to the pyarrow
        adapter inside the tasks (across the pickle boundary) and
        extract the same rows as the scan's own ``file:/…`` paths."""
        files = stage_pdfs(spark, tmp_path / "lake", self.BLOBS)
        uris = files.withColumn("path", F.regexp_replace("path", "^file:/", "file:///"))
        assert all(r.path.startswith("file:///") for r in uris.collect())
        got = raw_rows(extract_raw_cells_from_paths(uris, FakeDoc, batch_size=1))
        assert got == raw_rows(extract_raw_cells_from_paths(files, FakeDoc)) and got


class TestPageCountReuse:
    def test_precounted_files_skip_reparse(self, spark, tmp_path):
        """Extraction takes the page count from its input (with_pdf_info
        output) and never asks a document for it again — the parser
        opens each blob only to read its pages."""

        def refusing_parser():
            # raises if anything reads page_count — executor-side, so
            # any re-count fails the whole job, not just an assertion
            class Doc(FakeDoc):
                def __getattribute__(self, name):
                    if name == "page_count":
                        raise AssertionError("page_count re-read on a pre-counted file")
                    return super().__getattribute__(name)

            return Doc

        lake = tmp_path / "lake"
        lake.mkdir()
        (lake / "id_1.pdf").write_bytes(make_fake_pdf([PAGE1, PAGE2]))
        files = spark.createDataFrame(
            [Row(release_id="id_1", path=str(lake / "id_1.pdf"), page_count=2)]
        )
        out = extract_raw_cells_from_paths(files, refusing_parser(), batch_size=1)
        assert out.count() == 4  # 3 rows page1 + 1 row page2


class TestParseStatus:
    def test_page_failure_is_quarantined(self, spark, tmp_path):
        """Triage passes a blob only when it opens AND every page
        extracts: a real PDF whose page-2 content stream is corrupt
        opens (its page count is read) but must be quarantined, so
        extracting the ok rows succeeds."""
        from dbm_nca_ph_etl_spark.sources.minipdf import write_simple_pdf
        from dbm_nca_ph_etl_spark.sources.pdf_source import with_parse_status

        good = write_simple_pdf([[(50, 700, 12, "a")], [(50, 700, 12, "b")]])
        body = b"BT /F1 12 Tf 1 0 0 1 50 700 Tm (b) Tj ET"
        broken = b"BT /F1 12 Tf 1 0 0 1 50 700 Tm <zz> Tj ET"
        bad_page = good.replace(
            b"<</Length %d>>\nstream\n%s" % (len(body), body),
            b"<</Length %d>>\nstream\n%s" % (len(broken), broken),
        )
        assert bad_page != good and get_parser("minipdf")(bad_page).page_count == 2
        lake = tmp_path / "lake"
        lake.mkdir()
        for name, blob in {
            "good": good,
            "bad_page": bad_page,
            "fake": make_fake_pdf([PAGE1]),
            "not_pdf": b"NOT A PDF",
        }.items():
            (lake / f"{name}.pdf").write_bytes(blob)
        status = with_parse_status(read_pdf_binaries(spark, str(lake)), get_parser("auto"))
        rows = {r.release_id: r for r in status.collect()}
        assert {k for k, r in rows.items() if r.parse_ok} == {"good", "fake"}
        assert rows["bad_page"].parse_error.startswith("ValueError")
        assert rows["not_pdf"].parse_error.startswith("ValueError")
        assert rows["good"].parse_error is None
        ok = status.where("parse_ok").select("path").collect()
        files = with_pdf_info(
            read_pdf_binaries(spark, str(lake)).where(
                F.col("path").isin([r.path for r in ok])
            ),
            get_parser("auto"),
        )
        got = raw_rows(extract_raw_cells_from_paths(files, get_parser("auto")))
        assert [r[:2] for r in got] == [("fake", 1)] * 3 + [("good", 1), ("good", 2)]
