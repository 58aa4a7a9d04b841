"""PDF table source — the engine's one genuine Python-UDF scan.

Reference parity (the extraction stage of the pipeline):
- S8 table extraction   — pdf_parser.py:52-72 (pdfplumber
  ``extract_table`` per page → rows of nullable strings)
- S9 adaptive columns   — pdf_parser.py:79-96 (vertical lines from
  header-word x-positions on page 0, constant fallback)
- S5 metadata scan      — pdf_parser.py:23-32 (/CreationDate, /ModDate)
- S6 page count         — pdf_parser.py:34-36
- S7 page split         — pdf_parser.py:38-50 (dead code in the
  reference; here subsumed by per-page extraction)
- S17 blob memo         — file_stream_memo_loader.py:13-26 (one read
  per file per warm worker; here one read and one parse per file per
  task)
- T2 page-batch fan-out — release_batcher.py:14-46 via
  ``sources.releases.plan_page_batches``

Architecture (Spark-first, NOT the reference's Lambda topology):

1. :func:`read_pdf_binaries` scans a lake directory with
   ``spark.read.format("binaryFile")``: ``(path, …, content,
   release_id)``, the release id being the file name.
2. :func:`with_pdf_info` opens each blob once and adds
   ``page_count`` and the file metadata (:func:`with_parse_status`,
   the triage pass, shares its per-blob ``mapInPandas`` builder).
3. :func:`extract_raw_cells_from_paths` takes ``(release_id, path,
   page_count)``, explodes it into (release_id, page-range) batch rows
   and extracts each batch in a ``mapInPandas`` task, emitting the
   engine's line-ordered RAW_CELLS_SCHEMA ``(release_id, page_num,
   row_idx, cells)``.

Scale: only paths cross the batch exchange — a 10 GB PDF in 100
batches would move 1 TB through the shuffle if the bytes rode along.
Each task re-reads its blobs through the lake seam
(``sources.lakefs.get_fs(path).read_bytes``, the reference's Storage
Protocol, src/core/interfaces/storage.py) — the same trade the
reference makes per Lambda (handlers/worker.py:60-62) — and keeps a
few opened documents, so the ~⌈pages/batch_size⌉ batches of one file
landing in one task read and parse it once. Each batch row is one
task-sized unit of work: Spark's scheduler replaces SQS fan-out, and
the ``repartition`` on the batch rows spreads a skewed 10k-page PDF
across the cluster like the reference's 10-page Lambda batches
(BATCH_SIZE=10, constants.py:9).

Failures are loud: a blob that does not parse fails the extraction
job. The batch twin of the reference's DLQ redrive (T1) is triage:
run :func:`with_parse_status` (a blob passes when it opens and every
page extracts), send the failed rows to a quarantine table and
extract the rest.

The parser is pluggable (the reference's ``ParserProvider``
Protocol, src/core/interfaces/parser.py:7-27), reshaped so a blob is
parsed once: a parser is a callable ``parser(content)`` that returns
a document with ``page_count``, ``metadata()`` and
``extract_page(n)`` (:class:`PdfDoc`). :func:`get_parser` names the
three:

- ``"minipdf"`` —
  :class:`~dbm_nca_ph_etl_spark.sources.minipdf.MiniPdf`, the real
  parser: a dependency-free stdlib PDF reader implementing the
  reference's exact geometry (explicit vertical cuts from
  header-word x0s + text-derived rows,
  :func:`pdfplumber_table_settings`), which detects its page-1
  layout on its first ``extract_page``, so every file is cut at its
  own columns; golden-tested on the reference's own
  ``UPDATED_NCA.PDF`` fixture.
- ``"fake"`` — :class:`FakeDoc`, the engine's own trivial
  ``FAKEPDF`` byte format, used by tests to exercise ALL the
  Spark-side plumbing (schemas, page batching, Arrow batch shapes,
  order preservation) with zero native deps.
- ``"auto"`` — :func:`sniff`, which picks one of the two per blob.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Protocol

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.nca.schemas import RAW_CELLS_SCHEMA, TABLE_COLUMNS
from dbm_nca_ph_etl_spark.sources.lakefs import get_fs
from dbm_nca_ph_etl_spark.sources.releases import (
    DEFAULT_BATCH_SIZE,
    plan_page_batches,
)

# -----------------------------------------------------------------------
# Parser providers
# -----------------------------------------------------------------------


class PdfDoc(Protocol):
    """One opened blob."""

    page_count: int

    def metadata(self) -> tuple[str | None, str | None]:
        """(created_at, modified_at) strings, None when absent."""
        ...

    def extract_page(self, page_num: int) -> list[list[str | None]]:
        """1-based page -> rows of nullable cell strings."""
        ...


# The engine's ParserProvider (reference parser.py:7-27): parse a blob
# once, then read it through the returned document.
Parser = Callable[[bytes], PdfDoc]


# Reference constants.py:12-22 — measured column x-positions of the
# DBM NCA listing layout. In the reference this constant is dead
# config (table_settings starts with [] and page-0 detection always
# overwrites it, pdf_parser.py:13-20,96); we keep it as the fallback
# when a PDF yields NO header words at all, a documented divergence:
# the reference would hand pdfplumber a single right-edge line and
# emit a one-column table, which downstream cleaning can do nothing
# with.
REFERENCE_VERT_LINES = [
    19.439992224,
    133.439946624,
    182.159927136,
    275.9998896,
    389.15984433600005,
    500.159799936,
    638.159744736,
    737.9997048,
    1100.00000,
]


def detect_vert_lines(
    words: list[dict], page_width: float
) -> list[float]:
    """Adaptive column detection — straight port of reference
    pdf_parser.py:79-96 semantics, pure-Python so it is unit-testable
    without pdfplumber:

    - for each TABLE_COLUMNS phrase, scan the page-0 word stream for
      the underscore-joined lowercase match and take the FIRST word's
      exact ``x0`` (the reference uses ``x0``, not ``x0 - 1``);
    - keep however many phrases were found (partial headers are used
      as-is, no all-or-nothing reset);
    - always append ``page_width - 1`` as the right edge.

    Only when zero phrases match do we fall back to the reference's
    measured REFERENCE_VERT_LINES (see its docstring for why this
    diverges).
    """
    texts = [w["text"] for w in words]
    vert_lines: list[float] = []
    for phrase in TABLE_COLUMNS:
        phrase_words = phrase.lower().split("_")
        n = len(phrase_words)
        for i in range(len(texts) - n + 1):
            if "_".join(texts[i : i + n]).lower() == phrase:
                vert_lines.append(words[i]["x0"])
                break
    if not vert_lines:
        return list(REFERENCE_VERT_LINES)
    vert_lines.append(page_width - 1)
    return vert_lines


def pdfplumber_table_settings(vert_lines: list[float]) -> dict:
    """The exact ``extract_table`` settings the reference feeds
    pdfplumber (pdf_parser.py:58-66), kept as the EXTRACTION CONTRACT
    this engine implements: ``minipdf`` realizes the same semantics
    natively (explicit vertical cuts + text-derived horizontal rows,
    ``snap_y_tolerance`` line grouping), golden-tested on the
    reference's own fixture. Pinned by tests so the contract can't
    silently drift from what the reference measured."""
    return {
        "vertical_strategy": "explicit",
        "explicit_vertical_lines": vert_lines,
        "horizontal_strategy": "text",
        "intersection_tolerance": 1000,
        "snap_y_tolerance": 3,
    }


FAKE_MAGIC = b"FAKEPDF\n"
_PAGE_SEP = "\x0c"  # form feed between pages
_CELL_SEP = "|"
_NULL_CELL = "\\N"


def make_fake_pdf(
    pages: list[list[list[str | None]]],
    created_at: str | None = None,
    modified_at: str | None = None,
) -> bytes:
    """Serialize page->rows->cells into the FAKEPDF byte format
    (tests' stand-in for a real PDF binary)."""
    header = f"meta:{created_at or ''},{modified_at or ''}\n"
    body = _PAGE_SEP.join(
        "\n".join(
            _CELL_SEP.join(_NULL_CELL if c is None else c for c in row) for row in page
        )
        for page in pages
    )
    return FAKE_MAGIC + header.encode() + body.encode()


class FakeDoc:
    """An opened FAKEPDF blob."""

    def __init__(self, content: bytes):
        if not content.startswith(FAKE_MAGIC):
            raise ValueError("not a FAKEPDF blob")
        meta, sep, body = content[len(FAKE_MAGIC) :].decode().partition("\n")
        created, _, modified = meta.removeprefix("meta:").partition(",")
        self._meta = created or None, modified or None
        self._pages = body.split(_PAGE_SEP) if sep else []
        self.page_count = len(self._pages)

    def metadata(self) -> tuple[str | None, str | None]:
        return self._meta

    def extract_page(self, page_num: int) -> list[list[str | None]]:
        page = self._pages[page_num - 1]
        if not page:
            return []
        return [
            [None if c == _NULL_CELL else c for c in line.split(_CELL_SEP)]
            for line in page.split("\n")
        ]


def sniff(content: bytes) -> PdfDoc:
    """Per-blob dispatch: FAKEPDF blobs → :class:`FakeDoc`, real
    ``%PDF`` blobs → the dependency-free
    :class:`~dbm_nca_ph_etl_spark.sources.minipdf.MiniPdf`. Lets one
    extraction handle a mixed lake."""
    if content.startswith(FAKE_MAGIC):
        return FakeDoc(content)
    from dbm_nca_ph_etl_spark.sources.minipdf import MiniPdf

    return MiniPdf(content)


def get_parser(name: str = "auto") -> Parser:
    """'minipdf' | 'fake' | 'auto' (:func:`sniff`, per blob: FAKEPDF →
    fake; real PDFs → the stdlib-only minipdf extractor)."""
    if name == "fake":
        return FakeDoc
    if name == "minipdf":
        from dbm_nca_ph_etl_spark.sources.minipdf import MiniPdf

        return MiniPdf
    return sniff


# -----------------------------------------------------------------------
# DataFrame-level source operators
# -----------------------------------------------------------------------


def read_pdf_binaries(spark, path_glob: str) -> DataFrame:
    """S3/S4 — scan a lake directory of PDFs as binary rows.

    ``binaryFile`` gives (path, modificationTime, length, content);
    the filename (sans extension) becomes release_id, matching the
    reference's filename-keyed storage (local_storage.py:19-34).
    """
    df = spark.read.format("binaryFile").load(path_glob)
    rid = F.regexp_replace(
        F.element_at(F.split(F.col("path"), "/"), -1), r"\.[^.]*$", ""
    )
    return df.withColumn("release_id", rid)


def _per_blob(
    files: DataFrame, columns: list[str], fn: Callable[[bytes], tuple]
) -> DataFrame:
    """``files`` without ``content``, plus the ``columns`` (DDL, e.g.
    ``"page_count int"``) that ``fn`` returns for each blob, in one
    Arrow-batched pass."""
    names = [c.split()[0] for c in columns]

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b.drop(columns=["content"])
            values = [fn(c) for c in b["content"]]
            for i, name in enumerate(names):
                out[name] = [v[i] for v in values]
            yield out

    base = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in files.schema.fields
        if f.name != "content"
    ]
    return files.mapInPandas(run, schema=", ".join(base + columns))


def with_pdf_info(files: DataFrame, parser: Parser) -> DataFrame:
    """S5/S6 — add page_count + file metadata, opening each blob once
    (pdf_parser.py:23-36)."""

    def info(content: bytes) -> tuple:
        doc = parser(content)
        return (doc.page_count, *doc.metadata())

    return _per_blob(
        files,
        ["page_count int", "file_meta_created_at string", "file_meta_modified_at string"],
        info,
    )


def with_parse_status(files: DataFrame, parser: Parser) -> DataFrame:
    """Triage scan: (parse_ok, parse_error) per blob, beside its
    other columns.

    The reference's failure route is per-Lambda: a worker that throws
    sends its batch to the DLQ for redrive (worker.py + SQS redrive
    policy). The batch-engine twin is this classification pass — run
    it first, send the failed rows to a quarantine table (the DLQ),
    and extract the ok rows. A blob is ok when it opens and every
    page extracts, so a corrupt page stream is quarantined too; the
    pass costs one extraction of each blob.
    """

    def status(content: bytes) -> tuple:
        try:
            doc = parser(content)
            for page_num in range(1, doc.page_count + 1):
                doc.extract_page(page_num)
        except Exception as e:  # noqa: BLE001 - classification pass
            return False, f"{type(e).__name__}: {e}"
        return True, None

    return _per_blob(files, ["parse_ok boolean", "parse_error string"], status)


def extract_raw_cells_from_paths(
    files: DataFrame,
    parser: Parser,
    batch_size: int = DEFAULT_BATCH_SIZE,
) -> DataFrame:
    """S8/T2 — ``(release_id, path, page_count)`` → line-ordered
    RAW_CELLS_SCHEMA.

    The files explode into page-range batch rows (the reference's SQS
    fan-out unit, release_batch.py:5-10), repartitioned so a single
    huge PDF spreads across executors; each task reads a blob through
    ``sources.lakefs`` and opens it with ``parser`` once, keeping the
    last few documents it opened (S17). row_idx is the 0-based line
    index within its page; document order is (page_num, row_idx) —
    the engine's explicit-order convention (SURVEY §2.6 O5).
    ``with_pdf_info`` output qualifies as input; its ``content`` is
    pruned away, so no binary column crosses the exchange.
    """
    batches = plan_page_batches(
        files.select("release_id", "path", "page_count"), batch_size=batch_size
    )

    def extract(batches_iter: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs: dict[str, PdfDoc] = {}
        for b in batches_iter:
            out: list[tuple[str, int, int, list[str | None]]] = []
            for rid, path, start, end in zip(
                b["release_id"], b["path"], b["start_page_num"], b["end_page_num"]
            ):
                if path not in docs:
                    while len(docs) >= 4:
                        docs.pop(next(iter(docs)))
                    docs[path] = parser(get_fs(path).read_bytes(path))
                for page_num in range(int(start), int(end) + 1):
                    for row_idx, cells in enumerate(docs[path].extract_page(page_num)):
                        out.append((rid, page_num, row_idx, cells))
            yield pd.DataFrame(
                out, columns=["release_id", "page_num", "row_idx", "cells"]
            )

    return (
        batches.repartition("release_id", "batch_num")
        .mapInPandas(extract, schema=RAW_CELLS_SCHEMA)
    )
