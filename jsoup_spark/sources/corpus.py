"""Deterministic interleaved-span corpus synthesizer.

Builds the engine's input table (doc_id, spans<kind,text,media_ref,offset>)
from the driver-provided ``documents`` parquet — entirely with Catalyst
expressions (no Python row code), so the same plan scales from test SF to a
full cluster run. The generated HTML is a deterministic function of
(doc_id, text, lang, source), which lets DuckDB oracles recompute expected
extraction outputs symbolically.

Shape knobs:
* ``repeat`` — heavy-tail amplification: doc_id % 97 == 0 docs get their
  body text repeated 32x, %31 == 0 16x, %7 == 0 4x (skew for bucketing
  tests; FIXTURES.md §W).
* html spans are chunked at tag boundaries into multiple 'html' spans, and
  a standalone 'media' span is interleaved, exercising reassembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# deterministic html skeleton; every piece mirrored in oracle SQL
TITLE_PREFIX = "Doc "
IMG_BASE = "http://img.example/"
BASE_URI = "http://corpus.example/docs/"


def body_repeat_expr(col="doc_id"):
    """Heavy-tail repeat factor (1/4/16/32) as a Catalyst expression."""
    d = F.col(col).cast("long")
    return (
        F.when(d % 97 == 0, F.lit(32))
        .when(d % 31 == 0, F.lit(16))
        .when(d % 7 == 0, F.lit(4))
        .otherwise(F.lit(1))
    )


def synthesize(documents: DataFrame, with_media: bool = True) -> DataFrame:
    """documents(doc_id,text,lang,source,n_chars) -> interleaved span table.

    r9: assembled as ONE selectExpr SQL string — the Column-by-Column
    construction paid ~60 py4j round trips per query build (every
    corpus-backed query rebuilds this plan each bench rep; measured as a
    visible slice of the per-query wall). Same expressions, same output.
    """
    did = "cast(doc_id as string)"
    body = ("concat_ws(' ', array_repeat(text, cast("
            "CASE WHEN cast(doc_id as long) % 97 = 0 THEN 32 "
            "WHEN cast(doc_id as long) % 31 = 0 THEN 16 "
            "WHEN cast(doc_id as long) % 7 = 0 THEN 4 "
            "ELSE 1 END as int)))")
    head_html = (f'concat("<html><head><title>{TITLE_PREFIX}", {did}, '
                 f'"</title><base href=\'{BASE_URI}\'></head><body>")')
    para_html = ('concat("<div id=main class=\'", lang, '
                 f'" article\'><p>", {body}, "</p>")')
    img_html = (f'concat("<img src=\'img/", {did}, ".png\' alt=\'fig ", '
                f'{did}, "\'>")' if with_media else '""')
    tail_html = ('concat("<ul><li>", source, "</li><li>", lang, '
                 '"</li></ul><script>track(\'", '
                 f'{did}, "\');</script></div></body></html>")')

    def span(kind, text, media_ref, offset):
        return (f"named_struct('kind', '{kind}', 'text', {text}, "
                f"'media_ref', {media_ref}, "
                f"'offset', cast({offset} as int))")

    spans = ", ".join([
        span("html", head_html, "''", 0),
        span("html", para_html, "''", 1),
        span("media", f'concat("standalone media for ", {did})',
             f'concat("{IMG_BASE}", {did}, "/cover.jpg")', 2),
        span("html", img_html, "''", 3),
        span("html", tail_html, "''", 4),
    ])
    return documents.selectExpr(f"{did} as doc_id",
                                f"array({spans}) as spans")


def span_html():
    """Catalyst expression for a doc's raw HTML: the concat of its
    kind='html' span texts in offset order — no shuffle, no Python.

    sort_array over offset-FIRST structs, not array_sort with a comparator
    lambda: the comparator is interpreted per COMPARISON at execution time
    while the natural struct ordering stays in codegen (offsets are unique
    per doc by the span contract, so the two orders agree)."""
    return F.array_join(
        F.transform(
            F.sort_array(F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == "html"),
                lambda s: F.struct(s["offset"].alias("o"),
                                   s["text"].alias("t")))),
            lambda s: s["t"],
        ),
        "",
    )


def assemble_html(docs: DataFrame) -> DataFrame:
    """Reconstruct raw HTML per doc (``span_html``) next to its length and
    the corpus base URI."""
    html = span_html()
    return docs.select(
        "doc_id",
        html.alias("html"),
        F.length(html).alias("html_len"),
        F.lit(BASE_URI).alias("base_uri"),
    )
