"""The extraction pipeline: tokenize → tree-build → extract → spans.

Spark-first layering:
* plan-level stages (reassembly, joins, aggregation) are pure Catalyst
  expressions;
* the per-document algorithms (WHATWG parse, selector eval, cleaning) run
  inside one ``mapInArrow`` kernel, ``doc_stage``, over Arrow batches —
  batched, never row-at-a-time Python UDFs. Every per-document Python
  stage (the parse-gated ones here, the binary-payload sources, the media
  codecs, the dedup and fingerprint hashes) is its Catalyst preparation
  plus a ``per_doc`` function handed to that kernel. Every stage that
  parses one HTML page and walks it (select, css_path, clean, main
  content, metadata, markdown) is one emitter handed to ``page_stage``.

Scale design (north rule):
* ``extract_stage``'s ``stream_threshold`` is the giant-document
  backstop: a document past it is parsed and extracted in chunks;
* spark.sql.execution.arrow.maxRecordsPerBatch bounds the rows, not the
  bytes, of an Arrow batch: a batch of giant docs is not memory-bounded
  (a byte budget is ROADMAP direction 6);
* every batch also yields per-partition metric counters (docs, bytes,
  parse errors) that the caller can aggregate and checkpoint for lineage;
* resume is an anti-join of input doc_ids against the checkpointed output
  (see sinks.checkpoint / sinks.remaining).

Output span contract (per-row invariant, BASELINE.json):
  spans = [title?] ++ walk(html)   where walk emits text/media/data spans
  ++ input spans with kind='media' (doc-level attachments, offset order).
"""

from __future__ import annotations

import functools
from typing import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from ..clean import safelist as safelist_mod
from ..clean.cleaner import clean_document
from ..clean.serializer import inner_html
from ..extract.spans import extract_spans, stream_spans
from ..parser.nodes import Element
from ..parser.treebuilder import HtmlTreeBuilder, parse
from ..parser.xmlbuilder import parse_xml
from ..select.selector import compile_query, select
from ..sources.corpus import BASE_URI, assemble_html, span_html

# ---------------------------------------------------------------- bucketing


def bucket_by_size(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Hash-partition an ``assemble_html`` frame on (size_class, salt):
    size_class is ceil(log2(html_len)) and the salt spreads each class
    over up to 64 partitions. No stage calls it; it is kept as the plan
    that perfbench's ``operators.partition_bytes_skew`` probe measures."""
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    salted = df.withColumn(
        "_size_class",
        F.ceil(F.log2(F.greatest(F.col("html_len"), F.lit(1)))).cast("int"),
    ).withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    )
    # hash partitioning, NOT repartitionByRange: range partitioning runs a
    # sampling pass that executes the upstream twice. Hashing (size_class,
    # salt) spreads each size class across partitions with one shuffle.
    out = salted.repartition(partitions, "_size_class", "_salt")
    return out.drop("_size_class", "_salt")


# ---------------------------------------------------------------- kernel

def _values(col: pa.Array) -> list:
    """One Python value per row of an input column. Strings and null-free
    integers convert through NumPy, many times faster than to_pylist and
    with the same values (None for a null string). A list<struct> column
    is read as flat child arrays plus offsets, each row a list of field
    tuples: to_pylist on the nested column would build one dict per
    element."""
    t = col.type
    if pa.types.is_list(t) and pa.types.is_struct(t.value_type):
        off = col.offsets.to_numpy().tolist()  # slice-aware, indexes values
        flat = list(zip(*(_values(col.values.field(k))
                          for k in range(t.value_type.num_fields))))
        return [flat[a:b] for a, b in zip(off, off[1:])]
    if (pa.types.is_string(t) or pa.types.is_large_string(t)
            or (pa.types.is_integer(t) and col.null_count == 0)):
        return col.to_numpy(zero_copy_only=False).tolist()
    return col.to_pylist()


def doc_stage(prepared: DataFrame, in_cols: Sequence[str],
              per_doc: Callable[..., Sequence[tuple]],
              out_schema: T.StructType) -> DataFrame:
    """The Arrow kernel behind every per-document Python stage.

    The first field of ``out_schema`` is the key (``doc_id`` for most
    stages). The kernel projects the key plus ``in_cols`` from
    ``prepared`` and runs one ``mapInArrow``. For each document,
    ``per_doc(*values)`` (one value per ``in_cols`` entry) returns its
    output rows as tuples matching ``out_schema`` without the leading
    key: one row for 1:1 stages, any number for 1:N stages.
    Each input batch becomes one RecordBatch: its rows convert in one
    ``pa.array`` against the Arrow form of ``out_schema`` (Arrow's
    builders fill the flat child buffers and offsets of nested columns),
    and the key is one Arrow take on the rows' source index, so a batch
    with no output rows is still a typed result."""
    arrow_schema = to_arrow_schema(out_schema)
    row_type = pa.struct(list(arrow_schema)[1:])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list = []
            src: list = []
            for i, values in enumerate(zip(*map(_values, batch.columns[1:]))):
                out = per_doc(*values)
                rows += out
                src += [i] * len(out)
            # from_arrays casts each array to its schema type, e.g. a long
            # key to the declared string
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pa.array(src, pa.int32()))]
                + pa.array(rows, row_type).flatten(),
                schema=arrow_schema)

    return prepared.select(out_schema.names[0], *in_cols).mapInArrow(
        run, schema=out_schema)


def page_stage(docs: DataFrame, emit: Callable[..., Sequence[tuple]],
               out_schema: T.StructType) -> DataFrame:
    """(doc_id, html[, base_uri]) -> the rows ``emit(doc)`` returns for
    each parsed page, as tuples of the ``out_schema`` fields after the
    key: one row for a 1:1 stage, any number for a 1:N stage. The base
    URI comes from the ``base_uri`` column when there is one; a null html
    or base_uri reads as ""."""
    in_cols = ["html"] + (["base_uri"] if "base_uri" in docs.columns else [])

    def per_doc(html, base_uri=""):
        return emit(parse(html or "", base_uri or ""))

    return doc_stage(docs, in_cols, per_doc, out_schema)


@functools.lru_cache(maxsize=256)
def _compiled(language: str, query: str):
    """A CSS or XPath query compiled once per process: where the stage is
    built, to fail fast, and on a worker at its first document. Compiled
    queries carry per-call memos, so they are never shipped inside a
    closure."""
    if language == "css":
        return compile_query(query)
    if language == "xpath":
        from ..select.xpath import compile_xpath
        return compile_xpath(query)
    raise ValueError(f"unknown query language {language!r}")


# ---------------------------------------------------------------- extract

def extract_stage(docs: DataFrame, *,
                  stream_threshold: int = 8 << 20) -> DataFrame:
    """Interleaved span table -> extracted span table (+ per-doc metrics).

    Input: (doc_id, spans) per schemas.DOC_IN. Output: schemas.EXTRACT_OUT.

    ``stream_threshold``: docs whose html exceeds this many chars take the
    progressive StreamParser path (extract.spans.stream_spans) — completed
    top-level chunks are extracted and pruned as the parse advances, so a
    100MB document never holds its full DOM in worker memory (the
    giant-doc backstop; output is identical to the full-parse path).
    Set 0 to force streaming.
    """
    # html + input media spans in ONE projection — a join here would shuffle
    # the whole corpus against itself. Media spans sort on offset-first
    # structs for the reason span_html gives.
    media_in = F.sort_array(F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == "media"),
        lambda s: F.struct(s["offset"].alias("offset"),
                           s["text"].alias("text"),
                           s["media_ref"].alias("media_ref"))))
    # column-pruning audit (r8): base_uri is a corpus-level constant, so it
    # rides the closure instead of the Arrow transfer
    prepared = docs.select(
        "doc_id",
        span_html().alias("html"),
        media_in.alias("_media_in"),
    )

    def per_doc(html, media):
        if len(html) > stream_threshold:
            errors: list = []
            spans = stream_spans(html, BASE_URI, errors_out=errors)
        else:
            doc = parse(html, BASE_URI)
            spans = extract_spans(doc)
            errors = doc.errors
        for _offset, t, r in media:
            spans.append(("media", t or "", r or "", len(spans)))
        return [(spans, len(spans), len(errors), len(html))]

    return doc_stage(prepared, ["html", "_media_in"], per_doc,
                     schemas.EXTRACT_OUT)


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage counters (north rule metrics/lineage rows)."""
    return (
        extracted
        .withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum("bytes_tokenized").alias("bytes_tokenized"),
            F.sum("n_parse_errors").alias("parse_errors"),
            F.sum("n_spans").alias("spans_out"),
        )
    )


# ---------------------------------------------------------------- select

def select_stage(docs: DataFrame, query: str, *,
                 language: str = "css") -> DataFrame:
    """CSS- or XPath-select over each document; one output row per match.

    The query is compiled once per worker process (cost-ordered evaluator
    tree for CSS, SURVEY §2.c; XPath-subset AST for language='xpath',
    reference Element.selectXpath, nodes/Element.java:784-801) and
    evaluated over the per-doc DOM. A selective query can produce zero
    matches for a whole batch (reference Selector.select returns empty
    Elements, select/Selector.java:126-142); the kernel returns that batch
    as a typed empty result.
    """
    _compiled(language, query)  # a bad query fails before any task runs
    if language == "css":
        evaluate = select
    else:
        from ..select.xpath import select_xpath as evaluate

    def emit(doc):
        return [(i, el.name, el.attr("id"), el.own_text(), el.text(),
                 [(k, "" if v is None else v) for k, v in el.attrs.items()])
                for i, el in enumerate(
                    evaluate(doc, _compiled(language, query)))]

    return page_stage(assemble_html(docs), emit, schemas.SELECT_OUT)


def positions_stage(docs: DataFrame, query: str) -> DataFrame:
    """Source-position extraction: parse with range tracking
    (Parser.setTrackPosition, nodes/Range.java) and emit the source ranges
    of elements matched by a CSS query — one row per match with
    (src_start, src_end) of the open tag and (end_start, end_end) of the
    close tag (implicit ranges are zero-width, Range.isImplicit)."""
    _compiled("css", query)

    def per_doc(html):
        doc = parse(html, BASE_URI, track_positions=True)
        rows = []
        for i, el in enumerate(select(doc, _compiled("css", query))):
            src = el.source_range() or (-1, -1)
            end = el.end_source_range() or (-1, -1)
            rows.append((i, el.name, src[0], src[1], end[0], end[1]))
        return rows

    return doc_stage(assemble_html(docs), ["html"], per_doc,
                     schemas.POSITIONS_OUT)


# ------------------------------------------------------- fragment / xml

def fragment_stage(docs: DataFrame, context: str) -> DataFrame:
    """Fragment parse in a context element (Parser.parseFragment,
    reference HtmlTreeBuilder.java:88-143): one output row per top-level
    parsed node that is an element — (doc_id, node_idx, tag, text).

    Exercises the fragment machinery end to end (context-driven initial
    insertion mode, implied cells/rows, re-homing of content pushed
    outside the context root)."""
    def per_doc(frag):
        els = [n for n in HtmlTreeBuilder().parse_fragment(frag, context)
               if isinstance(n, Element)]
        return [(i, el.name, el.text()) for i, el in enumerate(els)]

    return doc_stage(docs, ["fragment_html"], per_doc, schemas.FRAGMENT_OUT)


def xml_stage(docs: DataFrame) -> DataFrame:
    """XML parse (Parser.xmlParser semantics, reference parser/
    XmlTreeBuilder.java): one output row per element in document order —
    (doc_id, el_idx, tag, own_text). CDATA sections contribute to text."""

    def per_doc(xml):
        rows = []
        stack = list(reversed(parse_xml(xml).children))
        while stack:
            n = stack.pop()
            if isinstance(n, Element):
                rows.append((len(rows), n.name, n.own_text()))
                stack.extend(reversed(n.children))
        return rows

    return doc_stage(docs, ["xml"], per_doc, schemas.XML_OUT)


# ---------------------------------------------------------------- clean

def clean_stage(docs: DataFrame, safelist_name: str = "basic") -> DataFrame:
    """Safelist-clean each document; emits cleaned html + text + counters."""
    if safelist_name not in safelist_mod.PRESETS:
        raise ValueError(f"unknown safelist {safelist_name!r}")
    sl = safelist_mod.PRESETS[safelist_name]()

    def emit(doc):
        result = clean_document(doc, sl)
        body = result.doc.body
        if body is None:
            return [("", "", result.num_discarded)]
        return [(inner_html(body), body.text(), result.num_discarded)]

    return page_stage(assemble_html(docs), emit, schemas.CLEAN_OUT)


# ---------------------------------------------------------------- helpers

def spans_to_rows(extracted: DataFrame) -> DataFrame:
    """Explode span arrays into a flat span table (doc_id, kind, text,
    media_ref, order) — the relational surface for downstream SQL."""
    return extracted.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("order"),
    )


def css_path_stage(docs: DataFrame, query: str) -> DataFrame:
    """Unique-selector generation (Element.cssSelector,
    nodes/Element.java:1113-1151) for every element matched by a CSS
    query — one row (doc_id, match_idx, css_path) per match. The
    generator was differentially fuzzed per element against the
    compiled reference in round 8."""
    from ..extract.functions import css_selector
    _compiled("css", query)

    def emit(doc):
        return [(i, css_selector(el))
                for i, el in enumerate(select(doc, _compiled("css", query)))]

    return page_stage(assemble_html(docs), emit, schemas.CSS_PATH_OUT)


def xpath_xml_stage(docs: DataFrame, query: str) -> DataFrame:
    """XPath select over XML-PARSED documents (the reference's
    Element.selectXpath over Parser.xmlParser output — preserved tag
    case, prefix rules, PI/doctype invisibility; select/xpath.py,
    fuzzed against the compiled reference in round 8). One row
    per matched element: (doc_id, match_idx, tag, own_text). `tag` is the
    PRESERVED-case tag name (el.tagName())."""
    from ..select.xpath import select_xpath
    _compiled("xpath", query)

    def per_doc(xml):
        matches = select_xpath(parse_xml(xml), _compiled("xpath", query))
        return [(i, el.tag_name_case or el.name, el.own_text())
                for i, el in enumerate(matches)]

    return doc_stage(docs, ["xml"], per_doc, schemas.XPATH_XML_OUT)
