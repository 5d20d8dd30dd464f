"""Archive-member explosion: tar (+gz/bz2/xz) and zip containers.

Web corpora and data drops arrive as archives of many small files; a
distributed pipeline wants one ROW per member, decoded through the
same charset/transport tier as every other byte payload
(sources/ingest.decode_html_bytes: BOM -> declared -> meta sniff,
gzip/zlib inflation of members that are themselves compressed).

`iter_archive` is the container walk (stdlib tarfile/zipfile — the
container formats are not interesting to re-derive; the engine value
is the decode tier + the Spark explode), format sniffed by signature:
zip PK\\x03\\x04, tar by the ustar magic at offset 257 or a valid
header checksum, gzip/bz2/xz transport wrappers around tar.

`archive_stage` lifts it to Spark: (doc_id, payload binary) ->
(doc_id, member, member_idx, size, text, ok) via the per-document
Arrow kernel — one Arrow batch in, one row per member out (the
warc_stage idiom).
Directories and non-regular members are skipped; a malformed archive
yields a single ok=false row (per-partition error accounting, the
north-rule lineage contract).
"""

from __future__ import annotations

import bz2
import gzip
import io
import lzma
import tarfile
import zipfile
from typing import Iterator

from .ingest import decode_html_bytes

__all__ = ["sniff_archive", "iter_archive", "archive_stage",
           "build_tar", "build_zip"]


def sniff_archive(data: bytes) -> str:
    """-> 'zip' | 'tar' | 'tar.gz' | 'tar.bz2' | 'tar.xz' | ''."""
    if data[:4] == b"PK\x03\x04":
        return "zip"
    if data[:2] == b"\x1f\x8b":
        return "tar.gz"
    if data[:3] == b"BZh":
        return "tar.bz2"
    if data[:6] == b"\xfd7zXZ\x00":
        return "tar.xz"
    if len(data) >= 263 and data[257:262] == b"ustar":
        return "tar"
    # pre-POSIX tar: validate the octal header checksum
    if len(data) >= 512:
        try:
            stored = int(data[148:156].split(b"\0")[0].strip() or b"0", 8)
            calc = sum(data[:148]) + 8 * 32 + sum(data[156:512])
            if stored == calc:
                return "tar"
        except ValueError:
            pass
    return ""


def iter_archive(data: bytes) -> Iterator[tuple[str, bytes]]:
    """Yield (member_name, raw bytes) for regular-file members, in
    archive order. Raises ValueError on unrecognised/corrupt input."""
    kind = sniff_archive(data)
    if kind == "zip":
        try:
            zf = zipfile.ZipFile(io.BytesIO(data))
            for info in zf.infolist():
                if info.is_dir():
                    continue
                yield info.filename, zf.read(info)
        except zipfile.BadZipFile as e:
            raise ValueError(f"zip: {e}") from None
        return
    if kind.startswith("tar"):
        raw = data
        try:
            if kind == "tar.gz":
                raw = gzip.decompress(data)
            elif kind == "tar.bz2":
                raw = bz2.decompress(data)
            elif kind == "tar.xz":
                raw = lzma.decompress(data)
            tf = tarfile.open(fileobj=io.BytesIO(raw), mode="r:")
            for member in tf:
                if not member.isreg():
                    continue
                f = tf.extractfile(member)
                if f is not None:
                    yield member.name, f.read()
        except (tarfile.TarError, OSError, lzma.LZMAError) as e:
            raise ValueError(f"tar: {e}") from None
        return
    raise ValueError("unrecognised archive")


def archive_stage(df: "DataFrame") -> "DataFrame":
    """(doc_id, payload binary) -> one row per member with the text
    decoded through the ingest tier (members that are themselves
    gzip/zlib-compressed inflate transparently)."""
    from pyspark.sql import types as T
    from ..operators.pipeline import doc_stage

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("member", T.StringType()),
        T.StructField("member_idx", T.IntegerType()),
        T.StructField("size", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ok", T.BooleanType()),
    ])

    def per_doc(payload):
        rows = []
        try:
            for i, (name, raw) in enumerate(iter_archive(payload)):
                rows.append((name, i, len(raw), decode_html_bytes(raw), True))
        except ValueError:
            rows.append(("", -1, 0, "", False))
        return rows

    return doc_stage(df, ["payload"], per_doc, schema)


# --------------------------------------------------------- test encoders

def build_tar(members: list[tuple[str, bytes]],
              compress: str = "") -> bytes:
    """Deterministic tar[.gz|.bz2|.xz] test encoder (fixed mtimes)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    if compress == "gz":
        return gzip.compress(raw, mtime=0)
    if compress == "bz2":
        return bz2.compress(raw)
    if compress == "xz":
        return lzma.compress(raw)
    return raw


def build_zip(members: list[tuple[str, bytes]],
              stored: bool = False) -> bytes:
    buf = io.BytesIO()
    method = zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(buf, "w", method) as zf:
        for name, data in members:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = method
            zf.writestr(zi, data)
    return buf.getvalue()
