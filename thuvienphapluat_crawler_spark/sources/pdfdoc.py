"""Minimal real PDF text-layer codec (SURVEY §2.1 S6; reference:
`extract_text_pymupdf`, ocr/test_ocr_quality.py:38-44 — the cheap no-OCR
tier of the routing in ocr/README.md:57-62).

PyMuPDF is not in this container, so r01/r02 stubbed the decode. Like the
xlsx codec (workbook.py), the container FORMAT itself needs no heavy
dependency for the honest subset we emit: build_pdf writes a valid
PDF 1.4 (catalog → pages tree → per-page content stream of `Tj`
text-show operators, correct xref offsets; optionally /FlateDecode via
stdlib zlib), and parse_pdf_text recovers the per-page text layer from
any PDF whose content streams are plain or Flate-compressed — object
graph walked Catalog→Pages→Kids→Contents, string operands unescaped,
one text line per Tj/TJ.

What still genuinely needs a native library at production: rendering page
IMAGES for the VLM tier (S5), CID/Type0 font cmap decoding, and the exotic
stream filters (LZW/JBIG2/CCITT); those stay behind the multimodal.py
decode flag. The Spark shape is identical either way: binaryFile scan →
mapInPandas (pages_from_pdfs) → (doc_id, page_idx, text) rows.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rowmap import flat_map_rows

PDF_PAGE_SCHEMA = "doc_id string, page_idx int, text string"


def _esc_pdf(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _unesc_pdf(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n in "nrtbf":
                out.append({"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f"}[n])
            else:
                out.append(n)
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def build_pdf(pages: list[list[str]], compress: bool = False) -> bytes:
    """Valid single-font PDF: one content stream per page, each text
    line a `(…) Tj` + `T*` leading advance; `compress=True` Flate-encodes
    every content stream (zlib, level 6 — deterministic). Text is encoded
    UTF-8 inside the string literal (we read it back ourselves; a
    viewer would want a CID font — irrelevant to the text-layer test).
    Deterministic bytes for identical input."""
    streams = []
    for lines in pages:
        parts = ["BT /F1 12 Tf 14 TL 72 760 Td"]
        for j, line in enumerate(lines):
            if j:
                parts.append("T*")
            parts.append(f"({_esc_pdf(line)}) Tj")
        parts.append("ET")
        streams.append(" ".join(parts).encode("utf-8"))
    return _assemble_pdf(streams, compress)


def build_pdf_positioned(
    pages: list[list[tuple[float, float, str]]], compress: bool = False
) -> bytes:
    """Positioned-text PDF: each cell its own `BT x y Td (…) Tj ET` at an
    absolute page coordinate — the layout class pdfplumber's borderless
    'text' strategy reconstructs tables from (reference:
    ocr/extract_tables.py:68-74 vertical/horizontal_strategy='text')."""
    streams = []
    for cells in pages:
        parts = [
            f"BT /F1 10 Tf {x:g} {y:g} Td ({_esc_pdf(t)}) Tj ET" for x, y, t in cells
        ]
        streams.append(" ".join(parts).encode("utf-8"))
    return _assemble_pdf(streams, compress)


def _assemble_pdf(page_streams: list[bytes], compress: bool) -> bytes:
    """Object graph + xref writer shared by both builders."""
    objs: list[bytes] = []  # 1-indexed

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids: list[tuple[int, int]] = []
    for stream in page_streams:
        filt = b""
        if compress:
            stream = zlib.compress(stream, 6)
            filt = b" /Filter /FlateDecode"
        cont = add(
            b"<< /Length " + str(len(stream)).encode() + filt
            + b" >>\nstream\n" + stream + b"\nendstream"
        )
        page = add(b"")  # placeholder, patched once the pages-tree id is known
        page_ids.append((page, cont))

    kids = " ".join(f"{p} 0 R" for p, _ in page_ids)
    pages_obj = add(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_ids)} >>".encode()
    )
    for page, cont in page_ids:
        objs[page - 1] = (
            f"<< /Type /Page /Parent {pages_obj} 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font} 0 R >> >> /Contents {cont} 0 R >>"
        ).encode()
    catalog = add(f"<< /Type /Catalog /Pages {pages_obj} 0 R >>".encode())

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n".encode()
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (
        f"trailer\n<< /Size {len(objs) + 1} /Root {catalog} 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(buf)


_OBJ_HDR_RE = re.compile(rb"(\d+)\s+0\s+obj")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_LEN_RE = re.compile(rb"/Length\s+(\d+)")
_STREAM_AT_RE = re.compile(rb"stream\r?\n")


def _scan_objects(data: bytes) -> dict[int, bytes]:
    """Object id → body, walking objects sequentially. Each stream's
    /Length is used to jump over its payload BEFORE looking for `endobj`,
    so Flate-compressed bytes that happen to contain b"endobj" or
    b"N 0 obj" can neither truncate a body nor inject a bogus object
    (a whole-file non-greedy regex had exactly that failure mode)."""
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        hm = _OBJ_HDR_RE.search(data, pos)
        if not hm:
            break
        start = hm.end()
        sm = _STREAM_AT_RE.search(data, start)
        em = data.find(b"endobj", start)
        if sm and (em == -1 or sm.start() < em):
            # the stream keyword belongs to THIS object (it precedes the
            # first endobj candidate): skip exactly /Length payload bytes
            lm = _LEN_RE.search(data, start, sm.start())
            if lm:
                payload_end = sm.end() + int(lm.group(1))
            else:  # indirect /Length: fall back to the endstream scan
                es = data.find(b"endstream", sm.end())
                payload_end = es if es != -1 else sm.end()
            em = data.find(b"endobj", payload_end)
        if em == -1:
            break
        objs[int(hm.group(1))] = data[start:em]
        pos = em + len(b"endobj")
    return objs


def _stream_bytes(body: bytes) -> bytes | None:
    """Exact stream payload of an object body. Prefer the /Length slice
    (binary-safe for Flate data, where the regex's `\\r?\\nendstream`
    heuristic can mis-trim); fall back to the regex for streams whose
    Length is indirect."""
    at = _STREAM_AT_RE.search(body)
    if not at:
        return None
    lm = _LEN_RE.search(body)
    if lm:
        start = at.end()
        return body[start : start + int(lm.group(1))]
    sm = _STREAM_RE.search(body)
    return sm.group(1) if sm else None
_TEXT_OP_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)\s*Tj|\[((?:[^\]\\]|\\.)*)\]\s*TJ")
_STR_RE = re.compile(rb"\(((?:[^()\\]|\\.)*)\)")


def _page_stream_bytes(data: bytes) -> list[bytes]:
    """Decompressed content-stream bytes per page, in pages-tree order.
    Follows Catalog→Pages→Kids→Contents; /FlateDecode inflated via
    stdlib zlib; any other /Filter raises NotImplementedError (the
    honest boundary — LZW/JBIG2/CCITT need a real decoder, the
    container has none). A broken object graph or Flate stream raises
    ValueError."""
    objs: dict[int, bytes] = _scan_objects(data)

    def ref(body: bytes, key: bytes) -> int | None:
        m = re.search(key + rb"\s+(\d+)\s+0\s+R", body)
        return int(m.group(1)) if m else None

    def obj(i: int | None, what: str) -> bytes:
        if i not in objs:
            raise ValueError(f"{what} object {i} not found")
        return objs[i]

    root = None
    for body in objs.values():
        if b"/Type" in body and b"/Catalog" in body:
            root = ref(body, rb"/Pages")
            break
    if root is None:
        raise ValueError("no /Catalog with /Pages")
    kids_m = re.search(rb"/Kids\s*\[(.*?)\]", obj(root, "/Pages"), re.S)
    if kids_m is None:
        raise ValueError(f"/Pages object {root} has no /Kids array")
    kids = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R", kids_m.group(1))]

    out: list[bytes] = []
    for kid in kids:
        cont = ref(obj(kid, "/Kids page"), rb"/Contents")
        body = obj(cont, "/Contents")
        raw = _stream_bytes(body)
        if raw is None:
            raw = b""
        elif b"/Filter" in body:
            if b"/FlateDecode" not in body:
                raise NotImplementedError("unsupported PDF stream filter (only FlateDecode)")
            try:
                raw = zlib.decompress(raw)
            except zlib.error as e:
                raise ValueError(f"/Contents object {cont}: bad FlateDecode stream") from e
        out.append(raw)
    return out


def parse_pdf_text(data: bytes) -> list[tuple[int, str]]:
    """(page_idx, text) per page, in pages-tree order: Tj/TJ string
    operands, one text line each."""
    out: list[tuple[int, str]] = []
    for idx, raw in enumerate(_page_stream_bytes(data)):
        lines: list[str] = []
        for m in _TEXT_OP_RE.finditer(raw):
            if m.group(1) is not None:
                lines.append(_unesc_pdf(m.group(1).decode("utf-8")))
            else:  # TJ array: concatenate its string elements
                lines.append(
                    "".join(_unesc_pdf(s.decode("utf-8")) for s in _STR_RE.findall(m.group(2)))
                )
        out.append((idx, "\n".join(lines)))
    return out


_TEXTOP_RE = re.compile(
    rb"([\d.+-]+)\s+TL|([\d.+-]+)\s+([\d.+-]+)\s+Td|T\*"
    rb"|\(((?:[^()\\]|\\.)*)\)\s*Tj"
)


def parse_pdf_text_ops(data: bytes) -> list[list[tuple[float, float, str]]]:
    """Per page, the positioned text draws [(x_pt, y_pt, text), …] from a
    TL/Td/T*/Tj content stream (the subset build_pdf emits — the text
    matrix is tracked as absolute position + leading). This is the layout
    the rasterizer consumes: the same (page, position, string) triples a
    PyMuPDF 150-dpi render paints (ocr/ocr_pdf.py:37-45)."""
    pages: list[list[tuple[float, float, str]]] = []
    for raw in _page_stream_bytes(data):
        x = y = 0.0
        leading = 0.0
        draws: list[tuple[float, float, str]] = []
        for m in _TEXTOP_RE.finditer(raw):
            if m.group(1) is not None:
                leading = float(m.group(1))
            elif m.group(2) is not None:
                x, y = float(m.group(2)), float(m.group(3))
            elif m.group(4) is not None:
                draws.append((x, y, _unesc_pdf(m.group(4).decode("utf-8"))))
            else:  # T*
                y -= leading
        pages.append(draws)
    return pages


_CELL_RE = re.compile(
    rb"BT\s+/F\d+\s+[\d.]+\s+Tf\s+([\d.+-]+)\s+([\d.+-]+)\s+Td\s*"
    rb"\(((?:[^()\\]|\\.)*)\)\s*Tj\s*ET"
)


def parse_pdf_cells(data: bytes) -> list[tuple[int, float, float, str]]:
    """(page_idx, x, y, text) per positioned text cell — the word-level
    layout a geometric table extractor consumes. Reads single-Td BT/ET
    blocks (what build_pdf_positioned emits and what simple generators
    produce); the clustering into rows/columns happens Spark-side
    (queries.pdf_table_extract), mirroring pdfplumber's 'text' strategy."""
    out: list[tuple[int, float, float, str]] = []
    for idx, raw in enumerate(_page_stream_bytes(data)):
        for m in _CELL_RE.finditer(raw):
            out.append(
                (idx, float(m.group(1)), float(m.group(2)), _unesc_pdf(m.group(3).decode("utf-8")))
            )
    return out


def pages_from_pdfs(df: DataFrame, id_col: str = "doc_id", bin_col: str = "pdf") -> DataFrame:
    """(doc_id, pdf:binary) → one row per page with its text layer — the
    S6 scan (binaryFile + flat_map_rows), Arrow-batched."""

    def pages(doc_id, payload):
        for i, text in parse_pdf_text(bytes(payload)):
            yield str(doc_id), i, text

    return flat_map_rows(df.select(F.col(id_col), F.col(bin_col)), pages, PDF_PAGE_SCHEMA)
