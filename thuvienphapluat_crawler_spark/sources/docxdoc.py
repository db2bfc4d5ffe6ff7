"""Minimal real DOCX codec (SURVEY §2.1 S9; reference: ocr/format_doc.py —
python-docx `Document(docx).paragraphs` / `.tables` after a soffice
.doc→.docx conversion, feeding annex-title extraction at :122-129 and the
STT/MÃ header scan at :110-116).

The soffice binary is absent from the container, so the .doc (OLE2) →
.docx CONVERSION stays a documented stub. But the .docx side — what the
reference actually reads — is zip + WordprocessingML, which stdlib
zipfile + xml.etree handle fully: build_docx writes a valid minimal
document.xml (body-level w:p paragraphs interleaved with w:tbl tables,
each run a w:t), parse_docx recovers (paragraphs, tables) in document
order exactly as python-docx's .paragraphs/.tables do. Same honesty
split as the xlsx codec (workbook.py) and the PDF codec (pdfdoc.py).
"""

from __future__ import annotations

import io
import lzma
import zipfile
import zlib
from xml.etree import ElementTree as ET

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_DOCX_EPOCH = (1980, 1, 1, 0, 0, 0)  # fixed zip mtime → deterministic bytes

# What reading a damaged zip of XML parts raises: bad structure or CRC,
# a broken deflate/bzip2/lzma member (OSError is bz2's), an encrypted-flag
# bit (RuntimeError), a missing member (KeyError), malformed XML.
ZIP_XML_ERRORS = (
    zipfile.BadZipFile, zlib.error, lzma.LZMAError, OSError, EOFError,
    RuntimeError, KeyError, ET.ParseError,
)


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _p(text: str) -> str:
    return f'<w:p><w:r><w:t xml:space="preserve">{_esc(text)}</w:t></w:r></w:p>'


def build_docx(blocks: list[str | list[list[str]]]) -> bytes:
    """Minimal valid .docx from an ordered block list: a str block becomes
    a body paragraph, a list-of-rows block becomes a w:tbl (each cell one
    paragraph). Deterministic bytes for identical input."""
    parts = []
    for b in blocks:
        if isinstance(b, str):
            parts.append(_p(b))
        else:
            rows = "".join(
                "<w:tr>" + "".join(f"<w:tc>{_p(c)}</w:tc>" for c in row) + "</w:tr>"
                for row in b
            )
            parts.append(f"<w:tbl>{rows}</w:tbl>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}"><w:body>' + "".join(parts) + "</w:body></w:document>"
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-'
        'officedocument.wordprocessingml.document.main+xml"/></Types>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/officeDocument" Target="word/document.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in [
            ("[Content_Types].xml", ctypes),
            ("_rels/.rels", root_rels),
            ("word/document.xml", doc),
        ]:
            zi = zipfile.ZipInfo(name, date_time=_DOCX_EPOCH)
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, data)
    return buf.getvalue()


def _cat_text(el: ET.Element) -> str:
    """All w:t runs under an element, concatenated (python-docx Paragraph.text)."""
    return "".join(t.text or "" for t in el.iter(f"{{{_W}}}t"))


def parse_docx(data: bytes) -> tuple[list[str], list[list[list[str]]]]:
    """(paragraphs, tables) from word/document.xml, in document order:
    body-level w:p → paragraphs (table-cell paragraphs excluded, as in
    python-docx), w:tbl → rows of cell texts. Bytes that are not a
    readable zip holding word/document.xml raise ValueError."""
    try:
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            root = ET.fromstring(z.read("word/document.xml"))
    except ZIP_XML_ERRORS as e:
        raise ValueError(f"unreadable .docx: {e}") from e
    body = root.find(f"{{{_W}}}body")
    if body is None:
        raise ValueError("no w:body in document.xml")
    paragraphs: list[str] = []
    tables: list[list[list[str]]] = []
    for child in body:
        tag = child.tag.rsplit("}", 1)[-1]
        if tag == "p":
            paragraphs.append(_cat_text(child))
        elif tag == "tbl":
            tables.append(
                [
                    [_cat_text(tc) for tc in tr.findall(f"{{{_W}}}tc")]
                    for tr in child.findall(f"{{{_W}}}tr")
                ]
            )
    return paragraphs, tables


def convert_doc_to_docx(data: bytes) -> bytes:
    """.doc (OLE2 binary) → .docx needs LibreOffice headless
    (format_doc.py:49-76); the container has no soffice. Documented stub —
    the REAL read path (parse_docx) starts from the .docx bytes."""
    raise NotImplementedError("soffice absent: .doc→.docx conversion is environmental")
