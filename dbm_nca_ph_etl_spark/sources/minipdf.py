"""``minipdf`` — a dependency-free PDF text/table extractor.

The container ships neither ``pdfplumber`` nor ``pypdf``, so the real
extraction path of the engine (S5/S6/S8/S9 — reference
pdf_parser.py:23-96) was previously exercised only through the
FAKEPDF test codec. This module implements the *small slice of the
public PDF 1.4 specification* (ISO 32000; objects, FlateDecode
streams, ToUnicode CMaps, the text-showing operators and their
matrix algebra) needed to extract positioned words — and therefore
tables — from real DBM NCA releases, entirely with the standard
library (``re`` + ``zlib``).

It is NOT a general PDF renderer. Scope, by design:

- classic cross-reference PDFs (``N 0 obj … endobj``); xref streams /
  object streams (PDF 1.5+) are out of scope;
- ``FlateDecode`` (and raw) streams only;
- simple one-byte-code fonts carrying a ``/ToUnicode`` CMap (the
  Ghostscript-produced DBM releases subset their TrueType fonts this
  way; codes without a CMap entry decode to U+FFFD);
- text operators ``BT/ET Tf Tm Td TD TL T* Tc Tw Tz Ts Tj ' " TJ``
  plus graphics-state ``q/Q/cm``; paths and images are skipped;
- page ``/Rotate`` of 0/90/180/270, matching how pdfplumber presents
  a rotated page (the DBM layout is landscape via ``/Rotate 90``).

Geometry parity is exact where it matters: the glyph origin is
computed as ``[Tfs·Th 0; 0 Tfs; 0 Ts] × Tm × CTM`` per the PDF
rendering pipeline, so word ``x0`` values on the reference fixture
reproduce the x-positions the reference measured with pdfplumber
(``/root/reference/src/infrastructure/constants.py:12-22`` — e.g.
``19.439992224 == 19.44 × (0.12 · 8.33333)``); the golden test pins
that equality. ``extract_table`` mirrors the pdfplumber settings the
reference pins (pdf_parser.py:13-20): explicit vertical lines,
text-line horizontal strategy, ``snap_y_tolerance`` row clustering.
"""

from __future__ import annotations

import re
import zlib
from bisect import bisect_right
from typing import Any, Iterator

# ---------------------------------------------------------------------------
# Object-level parsing
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_OBJ_HEAD = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_NAME_RE = re.compile(rb"/[^\s()<>\[\]{}/%]*")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Ref({self.num})"


def _skip_ws(data: bytes, i: int) -> int:
    while i < len(data):
        c = data[i : i + 1]
        if c == b"%":  # comment to EOL
            j = data.find(b"\n", i)
            i = len(data) if j < 0 else j + 1
        elif c in _WS:
            i += 1
        else:
            break
    return i


def _parse_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Literal string ``(...)`` with nesting and escapes → raw bytes."""
    assert data[i : i + 1] == b"("
    out: list[bytes] = []
    depth = 1
    i += 1
    esc = {
        b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
        b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\",
    }
    while i < len(data) and depth:
        c = data[i : i + 1]
        if c == b"\\":
            n = data[i + 1 : i + 2]
            if n in esc:
                out.append(esc[n])
                i += 2
            elif n.isdigit():
                j = i + 1
                while j < len(data) and j - i <= 3 and data[j : j + 1].isdigit():
                    j += 1
                out.append(bytes([int(data[i + 1 : j], 8) & 0xFF]))
                i = j
            elif n in (b"\n", b"\r"):  # line continuation
                i += 2
                if n == b"\r" and data[i : i + 1] == b"\n":
                    i += 1
            else:
                out.append(n)
                i += 2
        elif c == b"(":
            depth += 1
            out.append(c)
            i += 1
        elif c == b")":
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return b"".join(out), i


def _parse_hex_string(data: bytes, i: int) -> tuple[bytes, int]:
    j = data.index(b">", i)
    h = re.sub(rb"\s", b"", data[i + 1 : j])
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii")), j + 1


def _parse_value(data: bytes, i: int) -> tuple[Any, int]:
    """One PDF object value starting at ``i`` (dicts, arrays, names,
    numbers, strings, booleans, null, indirect refs)."""
    i = _skip_ws(data, i)
    c = data[i : i + 1]
    if data[i : i + 2] == b"<<":
        d: dict[str, Any] = {}
        i += 2
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 2] == b">>":
                return d, i + 2
            m = _NAME_RE.match(data, i)
            if not m:
                raise ValueError(f"bad dict key at {i}")
            key = m.group(0)[1:].decode("latin-1")
            val, i = _parse_value(data, m.end())
            d[key] = val
    if c == b"[":
        arr: list[Any] = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_value(data, i)
            arr.append(v)
    if c == b"(":
        return _parse_string(data, i)
    if c == b"<":
        return _parse_hex_string(data, i)
    if c == b"/":
        m = _NAME_RE.match(data, i)
        return m.group(0)[1:].decode("latin-1"), m.end()
    m = _REF_RE.match(data, i)
    if m:
        return Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(data, i)
    if m:
        t = m.group(0)
        return (float(t) if b"." in t else int(t)), m.end()
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data[i : i + len(lit)] == lit:
            return val, i + len(lit)
    raise ValueError(f"unparseable value at offset {i}: {data[i:i+20]!r}")


class MiniPdf:
    """Parsed PDF document: pages, fonts, positioned words, tables.
    The engine's real parser (``pdf_source.get_parser("minipdf")``):
    ``MiniPdf(content)`` is a ``pdf_source.PdfDoc``, with
    ``page_count``, ``metadata()`` and ``extract_page(n)``."""

    def __init__(self, content: bytes):
        if not content.startswith(b"%PDF"):
            raise ValueError("not a PDF (missing %PDF header)")
        self._data = content
        self._objs: dict[int, tuple[Any, bytes | None]] = {}
        self._scan_objects()
        self._pages = self._collect_pages()
        self._word_cache: dict[int, list[dict]] = {}
        self._vert_lines: list[float] | None = None

    # -- document structure -------------------------------------------------

    def _scan_objects(self) -> None:
        data = self._data
        for m in _OBJ_HEAD.finditer(data):
            num = int(m.group(1))
            i = _skip_ws(data, m.end())
            try:
                val, j = _parse_value(data, i)
            except ValueError:
                continue
            stream: bytes | None = None
            j = _skip_ws(data, j)
            if data[j : j + 6] == b"stream":
                j += 6
                if data[j : j + 2] == b"\r\n":
                    j += 2
                elif data[j : j + 1] in (b"\n", b"\r"):
                    j += 1
                length = val.get("Length") if isinstance(val, dict) else None
                if isinstance(length, Ref):
                    length = self._peek_number(length.num)
                if isinstance(length, int):
                    raw = data[j : j + length]
                else:  # malformed Length — fall back to delimiter scan
                    end = data.find(b"endstream", j)
                    raw = data[j:end]
                filt = val.get("Filter") if isinstance(val, dict) else None
                if filt == "FlateDecode" or filt == ["FlateDecode"]:
                    try:
                        stream = zlib.decompress(raw)
                    except zlib.error:
                        stream = None
                elif filt is None:
                    stream = raw
                # other filters: leave stream=None (out of scope)
            self._objs[num] = (val, stream)

    def _peek_number(self, num: int) -> int | None:
        """Resolve `N 0 obj <int> endobj` before the main table is built
        (needed for indirect /Length)."""
        m = re.search(
            rb"(?m)^\s*%d\s+\d+\s+obj\s*([\d.]+)\s*endobj" % num, self._data
        )
        return int(float(m.group(1))) if m else None

    def _resolve(self, v: Any) -> Any:
        while isinstance(v, Ref):
            v = self._objs.get(v.num, (None, None))[0]
        return v

    def _stream_of(self, v: Any) -> bytes:
        if isinstance(v, Ref):
            return self._objs.get(v.num, (None, None))[1] or b""
        return b""

    def _collect_pages(self) -> list[dict]:
        # walk the page tree from the catalog for correct ordering
        root = None
        for num, (val, _) in self._objs.items():
            if isinstance(val, dict) and val.get("Type") == "Catalog":
                root = val
                break
        pages: list[dict] = []

        def walk(node: Any) -> None:
            node = self._resolve(node)
            if not isinstance(node, dict):
                return
            if node.get("Type") == "Page":
                pages.append(node)
            else:
                for kid in self._resolve(node.get("Kids")) or []:
                    walk(kid)

        if root is not None:
            walk(root.get("Pages"))
        if not pages:  # damaged tree — fall back to file order
            pages = [
                v
                for _, (v, _s) in sorted(self._objs.items())
                if isinstance(v, dict) and v.get("Type") == "Page"
            ]
        return pages

    @property
    def page_count(self) -> int:
        return len(self._pages)

    def metadata(self) -> tuple[str | None, str | None]:
        """(/CreationDate, /ModDate) from the Info dictionary."""
        m = re.search(rb"/Info\s+(\d+)\s+\d+\s+R", self._data)
        info = self._resolve(Ref(int(m.group(1)))) if m else None
        if not isinstance(info, dict):  # no trailer /Info — scan for one
            for _, (v, _s) in sorted(self._objs.items()):
                if isinstance(v, dict) and (
                    "CreationDate" in v or "ModDate" in v
                ):
                    info = v
                    break
        if not isinstance(info, dict):
            return None, None

        def s(k: str) -> str | None:
            v = self._resolve(info.get(k))
            return v.decode("latin-1") if isinstance(v, bytes) else None

        return s("CreationDate"), s("ModDate")

    # -- geometry -----------------------------------------------------------

    def _page_box(self, page: dict) -> tuple[float, float, float, float]:
        box = self._resolve(page.get("MediaBox")) or [0, 0, 612, 792]
        return tuple(float(self._resolve(v)) for v in box)  # type: ignore

    def page_size(self, page_num: int) -> tuple[float, float]:
        """Displayed (width, height) after /Rotate — pdfplumber's
        ``page.width/height`` convention."""
        page = self._pages[page_num - 1]
        x0, y0, x1, y1 = self._page_box(page)
        w, h = x1 - x0, y1 - y0
        rot = int(self._resolve(page.get("Rotate")) or 0) % 360
        return (h, w) if rot in (90, 270) else (w, h)

    def _display_xy(
        self, page: dict, dx: float, dy: float
    ) -> tuple[float, float]:
        """Device point → (display_x, display_top): the derotated,
        top-down coordinate frame pdfplumber reports words in."""
        x0, y0, x1, y1 = self._page_box(page)
        rot = int(self._resolve(page.get("Rotate")) or 0) % 360
        if rot == 90:
            return dy - y0, dx - x0
        if rot == 180:
            return x1 - dx, dy - y0
        if rot == 270:
            return y1 - dy, x1 - dx
        return dx - x0, y1 - dy

    # -- fonts --------------------------------------------------------------

    def _font_table(self, page: dict) -> dict[str, dict]:
        res = self._resolve(page.get("Resources")) or {}
        fonts = self._resolve(res.get("Font")) or {}
        out: dict[str, dict] = {}
        for name, ref in fonts.items():
            fd = self._resolve(ref)
            if not isinstance(fd, dict):
                continue
            cmap = self._parse_tounicode(self._stream_of(fd.get("ToUnicode")))
            widths = [
                float(self._resolve(w))
                for w in (self._resolve(fd.get("Widths")) or [])
            ]
            desc = self._resolve(fd.get("FontDescriptor")) or {}
            out[name] = {
                "cmap": cmap,
                "first": int(self._resolve(fd.get("FirstChar")) or 0),
                "widths": widths,
                "missing": float(self._resolve(desc.get("MissingWidth")) or 500),
            }
        return out

    @staticmethod
    def _parse_tounicode(src: bytes) -> dict[int, str]:
        """bfchar/bfrange sections of a ToUnicode CMap → code→str."""
        cmap: dict[int, str] = {}
        if not src:
            return cmap
        text = src.decode("latin-1", "replace")
        for block in re.findall(
            r"beginbfrange(.*?)endbfrange", text, re.DOTALL
        ):
            for lo, hi, dst in re.findall(
                r"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>",
                block,
            ):
                lo_i, hi_i = int(lo, 16), int(hi, 16)
                base = int(dst, 16)
                for c in range(lo_i, hi_i + 1):
                    cmap[c] = chr(base + (c - lo_i))
            # array form: <lo> <hi> [<d1> <d2> ...]
            for lo, arr in re.findall(
                r"<([0-9a-fA-F]+)>\s*<[0-9a-fA-F]+>\s*\[(.*?)\]",
                block,
                re.DOTALL,
            ):
                for off, d in enumerate(re.findall(r"<([0-9a-fA-F]+)>", arr)):
                    cmap[int(lo, 16) + off] = chr(int(d, 16))
        for block in re.findall(r"beginbfchar(.*?)endbfchar", text, re.DOTALL):
            for code, dst in re.findall(
                r"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>", block
            ):
                # dst may be multi-char UTF-16BE
                u = bytes.fromhex(dst).decode("utf-16-be", "replace")
                cmap[int(code, 16)] = u
        return cmap

    # -- content-stream interpretation --------------------------------------

    def _page_content(self, page: dict) -> bytes:
        contents = page.get("Contents")
        resolved = self._resolve(contents)
        if isinstance(resolved, list):
            return b"\n".join(self._stream_of(c) for c in resolved)
        return self._stream_of(contents)

    @staticmethod
    def _tokens(content: bytes) -> Iterator[tuple[str, Any]]:
        i = 0
        n = len(content)
        while i < n:
            c = content[i : i + 1]
            if c in _WS:
                i += 1
            elif c == b"%":
                j = content.find(b"\n", i)
                i = n if j < 0 else j + 1
            elif c == b"(":
                s, i = _parse_string(content, i)
                yield ("str", s)
            elif content[i : i + 2] == b"<<":
                d, i = _parse_value(content, i)  # inline dicts (gs etc.)
                yield ("dict", d)
            elif c == b"<":
                s, i = _parse_hex_string(content, i)
                yield ("str", s)
            elif c == b"/":
                m = _NAME_RE.match(content, i)
                yield ("name", m.group(0)[1:].decode("latin-1"))
                i = m.end()
            elif c in b"[]":
                yield ("delim", c.decode())
                i += 1
            elif _NUM_RE.match(content, i):
                m = _NUM_RE.match(content, i)
                yield ("num", float(m.group(0)))
                i = m.end()
            else:
                m = re.match(rb"[A-Za-z'\"*]+[0-9*]*", content[i:])
                if m:
                    yield ("op", m.group(0).decode("latin-1"))
                    i += m.end()
                else:
                    i += 1  # unknown byte — skip

    @staticmethod
    def _matmul(m1, m2):
        a1, b1, c1, d1, e1, f1 = m1
        a2, b2, c2, d2, e2, f2 = m2
        return (
            a1 * a2 + b1 * c2,
            a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2,
            c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2,
            e1 * b2 + f1 * d2 + f2,
        )

    def chars(self, page_num: int) -> list[dict]:
        """Positioned decoded glyphs of a page (display coordinates)."""
        page = self._pages[page_num - 1]
        fonts = self._font_table(page)
        content = self._page_content(page)
        ident = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        ctm = ident
        stack: list[tuple] = []
        tm = tlm = ident
        font: dict | None = None
        tfs = th = 1.0
        tc = tw = 0.0
        tl = ts = 0.0
        out: list[dict] = []
        operands: list[Any] = []

        def nums(k: int) -> list[float]:
            vals = [v for t, v in operands if t == "num"]
            return vals[-k:]

        def show(raw: bytes) -> None:
            nonlocal tm
            if font is None:
                return
            cmap = font["cmap"]
            widths = font["widths"]
            first = font["first"]
            # fonts without a ToUnicode CMap: assume a Latin text
            # encoding (WinAnsi/Standard are Latin-1-compatible over
            # the printable range) — the common case for base-14 and
            # unsubsetted simple fonts
            fallback = (lambda c: chr(c)) if not cmap else (lambda c: "�")
            for code in raw:
                w = (
                    widths[code - first] / 1000.0
                    if 0 <= code - first < len(widths)
                    else font["missing"] / 1000.0
                )
                trm = self._matmul((tfs * th, 0.0, 0.0, tfs, 0.0, ts), tm)
                trm = self._matmul(trm, ctm)
                adv = (w * tfs + tc + (tw if code == 32 else 0.0)) * th
                x0d, y0d = trm[4], trm[5]
                # advance endpoint in device space
                x1d = x0d + adv * trm[0] / (tfs * th) if tfs else x0d
                y1d = y0d + adv * trm[1] / (tfs * th) if tfs else y0d
                dx0, dtop = self._display_xy(page, x0d, y0d)
                dx1, _ = self._display_xy(page, x1d, y1d)
                out.append(
                    {
                        "text": cmap.get(code) or fallback(code),
                        "x0": min(dx0, dx1),
                        "x1": max(dx0, dx1),
                        "top": dtop,
                        "size": abs(tfs),
                    }
                )
                tm = self._matmul((1.0, 0.0, 0.0, 1.0, adv, 0.0), tm)

        for tok in self._tokens(content):
            if tok[0] != "op":
                operands.append(tok)
                continue
            op = tok[1]
            if op == "q":
                stack.append(ctm)
            elif op == "Q":
                ctm = stack.pop() if stack else ident
            elif op == "cm":
                ctm = self._matmul(tuple(nums(6)), ctm)
            elif op == "BT":
                tm = tlm = ident
            elif op == "Tf":
                names = [v for t, v in operands if t == "name"]
                if names:
                    font = fonts.get(names[-1])
                tfs = nums(1)[0] if nums(1) else tfs
            elif op == "Tm":
                tm = tlm = tuple(nums(6))
            elif op == "Td":
                x, y = nums(2)
                tm = tlm = self._matmul((1, 0, 0, 1, x, y), tlm)
            elif op == "TD":
                x, y = nums(2)
                tl = -y
                tm = tlm = self._matmul((1, 0, 0, 1, x, y), tlm)
            elif op == "TL":
                tl = nums(1)[0]
            elif op == "T*":
                tm = tlm = self._matmul((1, 0, 0, 1, 0, -tl), tlm)
            elif op == "Tc":
                tc = nums(1)[0]
            elif op == "Tw":
                tw = nums(1)[0]
            elif op == "Tz":
                th = nums(1)[0] / 100.0
            elif op == "Ts":
                ts = nums(1)[0]
            elif op == "Tj":
                strs = [v for t, v in operands if t == "str"]
                if strs:
                    show(strs[-1])
            elif op == "'":
                tm = tlm = self._matmul((1, 0, 0, 1, 0, -tl), tlm)
                strs = [v for t, v in operands if t == "str"]
                if strs:
                    show(strs[-1])
            elif op == '"':
                vals = nums(2)
                if len(vals) == 2:
                    tw, tc = vals
                tm = tlm = self._matmul((1, 0, 0, 1, 0, -tl), tlm)
                strs = [v for t, v in operands if t == "str"]
                if strs:
                    show(strs[-1])
            elif op == "TJ":
                for t, v in operands:
                    if t == "str":
                        show(v)
                    elif t == "num":
                        adv = -v / 1000.0 * tfs * th
                        tm = self._matmul((1, 0, 0, 1, adv, 0), tm)
            operands = []
        return out

    # -- words and tables ---------------------------------------------------

    def extract_words(
        self, page_num: int, y_tolerance: float = 3.0, x_tolerance: float = 3.0
    ) -> list[dict]:
        """Whitespace/gap-delimited words with ``text/x0/x1/top`` —
        the shape ``detect_vert_lines`` (reference pdf_parser.py:79-96)
        consumes."""
        if page_num in self._word_cache:
            return self._word_cache[page_num]
        chars = [c for c in self.chars(page_num)]
        # cluster into lines by top
        chars.sort(key=lambda c: (c["top"], c["x0"]))
        lines: list[list[dict]] = []
        for ch in chars:
            if lines and abs(ch["top"] - lines[-1][0]["top"]) <= y_tolerance:
                lines[-1].append(ch)
            else:
                lines.append([ch])
        words: list[dict] = []
        for line in lines:
            line.sort(key=lambda c: c["x0"])
            cur: list[dict] = []
            for ch in line:
                is_space = ch["text"].isspace() or ch["text"] == "\x00"
                gap = cur and (ch["x0"] - cur[-1]["x1"]) > x_tolerance
                if (is_space or gap) and cur:
                    words.append(self._mk_word(cur))
                    cur = []
                if not is_space:
                    cur.append(ch)
            if cur:
                words.append(self._mk_word(cur))
        words.sort(key=lambda w: (w["top"], w["x0"]))
        self._word_cache[page_num] = words
        return words

    @staticmethod
    def _mk_word(chars: list[dict]) -> dict:
        return {
            "text": "".join(c["text"] for c in chars),
            "x0": chars[0]["x0"],
            "x1": chars[-1]["x1"],
            "top": min(c["top"] for c in chars),
        }

    def extract_page(self, page_num: int) -> list[list[str | None]]:
        """The page's table, cut at the columns this document's page 1
        header defines (``detect_vert_lines``, the reference's
        pdf_parser.py:79-96 strategy). The layout is detected on the
        first call and kept on the document, so each file is cut at
        its own columns and detected once, however many pages are
        read (the reference re-detects per extract call,
        pdf_parser.py:58-60)."""
        if self._vert_lines is None:
            from dbm_nca_ph_etl_spark.sources.pdf_source import detect_vert_lines

            self._vert_lines = detect_vert_lines(
                self.extract_words(1), self.page_size(1)[0]
            )
        return self.extract_table(page_num, self._vert_lines)

    def extract_table(
        self,
        page_num: int,
        vert_lines: list[float],
        snap_y_tolerance: float = 3.0,
        x_tolerance: float = 3.0,
    ) -> list[list[str | None]]:
        """Explicit-vertical-lines + text-rows table reconstruction
        (the pdfplumber strategy the reference pins,
        pdf_parser.py:13-20): cluster CHARS into rows by ``top``
        within ``snap_y_tolerance``, slot each char into the column
        containing its center x (char-level slicing matters — the DBM
        layout kerns the purpose text right after the amount digits
        with no space glyph, so a word-level split would glue
        ``1,626,450.00To`` into one cell), then rebuild each cell's
        text left-to-right, inserting a space at gaps wider than
        ``x_tolerance`` and collapsing whitespace runs. Cells with no
        chars are ``None`` (pdfplumber's convention)."""
        if len(vert_lines) < 2:
            return []
        chars = sorted(self.chars(page_num), key=lambda c: (c["top"], c["x0"]))
        if not chars:
            return []
        lines = sorted(vert_lines)
        ncols = len(lines) - 1
        rows: list[list[dict]] = []
        for ch in chars:
            if rows and abs(ch["top"] - rows[-1][0]["top"]) <= snap_y_tolerance:
                rows[-1].append(ch)
            else:
                rows.append([ch])
        table: list[list[str | None]] = []
        for row in rows:
            cells: list[list[dict]] = [[] for _ in range(ncols)]
            for ch in row:
                center = (ch["x0"] + ch["x1"]) / 2.0
                col = bisect_right(lines, center) - 1
                col = min(max(col, 0), ncols - 1)
                cells[col].append(ch)
            out_row: list[str | None] = []
            for cell in cells:
                cell.sort(key=lambda c: c["x0"])
                parts: list[str] = []
                prev = None
                for ch in cell:
                    if prev is not None and ch["x0"] - prev["x1"] > x_tolerance:
                        parts.append(" ")
                    parts.append(ch["text"])
                    prev = ch
                text = " ".join("".join(parts).split())
                out_row.append(text if text else None)
            table.append(out_row)
        return table


# ---------------------------------------------------------------------------
# Minimal PDF writer (fixture generator)
# ---------------------------------------------------------------------------


def write_simple_pdf(
    pages: list[list[tuple[float, float, float, str]]],
    media_box: tuple[float, float] = (612.0, 792.0),
    rotate: int = 0,
    created: str | None = None,
    modified: str | None = None,
) -> bytes:
    """Serialize positioned text into a REAL, spec-conformant PDF 1.4
    byte stream (classic xref table, uncompressed content streams,
    base-14 Helvetica with WinAnsi encoding) — the genuine-format twin
    of ``make_fake_pdf`` for exercising the real extraction path on
    multi-page / rotated documents without native dependencies.

    Each page is a list of ``(x, y, font_size, text)`` text runs in
    PDF user space (origin bottom-left). Escaping covers the literal-
    string specials; text should stay in the Latin-1 printable range.
    """

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    w, h = media_box
    objs: list[bytes] = []  # 1-indexed object bodies (without N 0 obj)

    n_pages = len(pages)
    font_num = 3 + 2 * n_pages
    info_num = font_num + 1
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<</Type /Catalog /Pages 2 0 R>>")  # 1
    objs.append(  # 2
        f"<</Type /Pages /Kids [{kids}] /Count {n_pages}>>".encode()
    )
    for i, runs in enumerate(pages):
        page_num, content_num = 3 + 2 * i, 4 + 2 * i
        rot = f" /Rotate {rotate}" if rotate else ""
        objs.append(
            (
                f"<</Type /Page /Parent 2 0 R /MediaBox [0 0 {w:g} {h:g}]"
                f"{rot} /Resources <</Font <</F1 {font_num} 0 R>>>> "
                f"/Contents {content_num} 0 R>>"
            ).encode()
        )
        body = "\n".join(
            f"BT /F1 {size:g} Tf 1 0 0 1 {x:g} {y:g} Tm ({esc(text)}) Tj ET"
            for x, y, size, text in runs
        ).encode("latin-1")
        objs.append(
            b"<</Length %d>>\nstream\n%s\nendstream" % (len(body), body)
        )
    objs.append(  # font
        b"<</Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding>>"
    )
    info = b"<<"
    if created:
        info += b"/CreationDate (" + created.encode("latin-1") + b")"
    if modified:
        info += b"/ModDate (" + modified.encode("latin-1") + b")"
    info += b">>"
    objs.append(info)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<</Size %d /Root 1 0 R /Info %d 0 R>>\n"
        b"startxref\n%d\n%%%%EOF\n" % (len(objs) + 1, info_num, xref_at)
    )
    return bytes(out)
