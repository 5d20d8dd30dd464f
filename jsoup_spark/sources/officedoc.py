"""Office/ebook document text extraction: DOCX (OOXML) and EPUB.

Training pipelines ingest far more than raw HTML — .docx and .epub
are the two most common document formats after PDF, and both are ZIP
containers of XML (stdlib `zipfile`) whose content this engine's own
parsers already handle: word/document.xml parses with parse_xml
(parser/xmlbuilder.py), EPUB chapters are XHTML and parse with the
full HTML tree builder. No new parsing machinery — this module is the
container plumbing plus the OOXML/EPUB structure conventions:

* DOCX: w:p paragraphs / w:r runs / w:t text, w:tab -> TAB,
  w:br + w:cr -> newline (table-cell paragraphs surface in document
  order), and the core.xml Dublin-Core metadata (title/creator);
* EPUB: container.xml -> OPF rootfile -> manifest/spine resolution ->
  spine-ordered XHTML chapters -> per-chapter text via the HTML
  engine's `text()` (whitespace-normalized exactly like the
  reference's Element.text()).

`office_stage` lifts both to Spark (the per-document Arrow kernel over
binary payloads, format sniffed by container signature). `build_docx` /
`build_epub` are zero-fixture test encoders producing spec-shaped
containers.

Reference parity anchor: extraction semantics (text(), whitespace
normalization) ARE the reference's (org/jsoup/nodes/Element.java
text()); the containers are public ECMA-376 / EPUB 3 structure.
"""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import DataFrame, types as T

from jsoup_spark import parse as parse_html, parse_xml
from jsoup_spark.operators.pipeline import doc_stage
from jsoup_spark.select.selector import select


def _local(el) -> str:
    return el.name.split(":")[-1]


def _el_text_docx(p_el) -> str:
    """One w:p paragraph element -> text (runs, tabs, breaks)."""
    parts = []
    for node in select(p_el, "*|r, r"):
        for child in node.children:
            tag = getattr(child, "name", "").split(":")[-1]
            if tag == "t":
                parts.append(child.text())
            elif tag == "tab":
                parts.append("\t")
            elif tag in ("br", "cr"):
                parts.append("\n")
    return "".join(parts)


def extract_docx(payload: bytes) -> dict:
    """DOCX bytes -> {title, creator, paragraphs: [str], text}."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as e:
        raise ValueError(f"docx: {e}") from None
    names = set(zf.namelist())
    if "word/document.xml" not in names:
        raise ValueError("docx: missing word/document.xml")
    doc = parse_xml(zf.read("word/document.xml").decode("utf-8"))
    paragraphs = []
    for p in select(doc, "*|p, p"):
        if _local(p) != "p":
            continue
        paragraphs.append(_el_text_docx(p))
    # tables: w:tc cell paragraphs already appear in document order
    title = creator = ""
    if "docProps/core.xml" in names:
        core = parse_xml(zf.read("docProps/core.xml").decode("utf-8"))
        for el in select(core, "*|title, title"):
            if _local(el) == "title":
                title = el.text()
        for el in select(core, "*|creator, creator"):
            if _local(el) == "creator":
                creator = el.text()
    return {"title": title, "creator": creator,
            "paragraphs": paragraphs,
            "text": "\n".join(x for x in paragraphs)}


def extract_epub(payload: bytes) -> dict:
    """EPUB bytes -> {title, creator, chapters: [(name, text)],
    text}."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as e:
        raise ValueError(f"epub: {e}") from None
    names = set(zf.namelist())
    if "META-INF/container.xml" not in names:
        raise ValueError("epub: missing container.xml")
    container = parse_xml(
        zf.read("META-INF/container.xml").decode("utf-8"))
    opf_path = None
    for el in select(container, "*|rootfile, rootfile"):
        opf_path = el.attr("full-path")
        break
    if not opf_path or opf_path not in names:
        raise ValueError("epub: missing OPF rootfile")
    opf = parse_xml(zf.read(opf_path).decode("utf-8"))
    base = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    title = creator = ""
    for el in select(opf, "*"):
        t = _local(el)
        if t == "title" and not title:
            title = el.text()
        elif t == "creator" and not creator:
            creator = el.text()
    hrefs = {}
    for item in select(opf, "*|item, item"):
        if _local(item) != "item":
            continue
        hrefs[item.attr("id")] = item.attr("href")
    chapters = []
    for ref in select(opf, "*|itemref, itemref"):
        href = hrefs.get(ref.attr("idref"))
        if not href:
            continue
        path = base + href
        if path not in names:
            raise ValueError(f"epub: spine item missing: {path}")
        doc = parse_html(zf.read(path).decode("utf-8"))
        body = doc.body
        chapters.append((href, body.text() if body is not None else ""))
    return {"title": title, "creator": creator, "chapters": chapters,
            "text": "\n".join(t for _, t in chapters)}


def sniff_office(payload: bytes) -> str | None:
    """'docx' / 'epub' / 'zip' / None by container signature."""
    if payload[:2] != b"PK":
        return None
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
        names = set(zf.namelist())
    except zipfile.BadZipFile:
        return None
    if "word/document.xml" in names:
        return "docx"
    if "META-INF/container.xml" in names or "mimetype" in names:
        return "epub"
    return "zip"


OFFICE_ROWS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("format", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("creator", T.StringType(), True),
    T.StructField("n_parts", T.IntegerType(), True),
    T.StructField("text", T.StringType(), True),
])


def office_stage(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> extracted text rows; format sniffed
    per payload. Runs through the per-document Arrow kernel
    (operators/pipeline.py doc_stage), embarrassingly parallel."""

    def per_doc(payload):
        fmt = sniff_office(payload)
        if fmt == "docx":
            d = extract_docx(payload)
            return [(fmt, d["title"], d["creator"], len(d["paragraphs"]),
                     d["text"])]
        if fmt == "epub":
            d = extract_epub(payload)
            return [(fmt, d["title"], d["creator"], len(d["chapters"]),
                     d["text"])]
        return [(fmt, None, None, None, None)]

    return doc_stage(docs, ["payload"], per_doc, OFFICE_ROWS)


# ---------------------------------------------------- test encoders

_DOCX_NS = ('xmlns:w="http://schemas.openxmlformats.org/'
            'wordprocessingml/2006/main"')


def build_docx(paragraphs, *, title: str = "", creator: str = "",
               tabs_in: int | None = None) -> bytes:
    """Paragraph strings -> minimal spec-shaped DOCX bytes."""
    body = []
    for i, p in enumerate(paragraphs):
        runs = []
        for j, seg in enumerate(p.split("\t")):
            if j:
                runs.append("<w:tab/>")
            runs.append(f'<w:t xml:space="preserve">{_esc(seg)}</w:t>')
        body.append(f"<w:p><w:r>{''.join(runs)}</w:r></w:p>")
    document = (f'<?xml version="1.0"?><w:document {_DOCX_NS}>'
                f"<w:body>{''.join(body)}</w:body></w:document>")
    core = ('<?xml version="1.0"?><cp:coreProperties '
            'xmlns:cp="http://schemas.openxmlformats.org/package/2006/'
            'metadata/core-properties" '
            'xmlns:dc="http://purl.org/dc/elements/1.1/">'
            f"<dc:title>{_esc(title)}</dc:title>"
            f"<dc:creator>{_esc(creator)}</dc:creator>"
            "</cp:coreProperties>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml",
                    '<?xml version="1.0"?><Types xmlns="http://schemas'
                    '.openxmlformats.org/package/2006/content-types"/>')
        zf.writestr("word/document.xml", document)
        zf.writestr("docProps/core.xml", core)
    return buf.getvalue()


def build_epub(chapters, *, title: str = "", creator: str = "") -> bytes:
    """(name, html_body) pairs -> minimal spec-shaped EPUB bytes."""
    manifest = []
    spine = []
    files = {}
    for i, (name, html_body) in enumerate(chapters):
        manifest.append(f'<item id="c{i}" href="{name}" '
                        'media-type="application/xhtml+xml"/>')
        spine.append(f'<itemref idref="c{i}"/>')
        files[f"OEBPS/{name}"] = (
            "<html><head><title>c</title></head><body>"
            f"{html_body}</body></html>")
    opf = ('<?xml version="1.0"?><package xmlns="http://www.idpf.org/'
           '2007/opf" version="3.0"><metadata '
           'xmlns:dc="http://purl.org/dc/elements/1.1/">'
           f"<dc:title>{_esc(title)}</dc:title>"
           f"<dc:creator>{_esc(creator)}</dc:creator></metadata>"
           f"<manifest>{''.join(manifest)}</manifest>"
           f"<spine>{''.join(spine)}</spine></package>")
    container = ('<?xml version="1.0"?><container version="1.0" '
                 'xmlns="urn:oasis:names:tc:opendocument:xmlns:'
                 'container"><rootfiles><rootfile '
                 'full-path="OEBPS/content.opf" '
                 'media-type="application/oebps-package+xml"/>'
                 "</rootfiles></container>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr("META-INF/container.xml", container)
        zf.writestr("OEBPS/content.opf", opf)
        for path, content in files.items():
            zf.writestr(path, content)
    return buf.getvalue()


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))
