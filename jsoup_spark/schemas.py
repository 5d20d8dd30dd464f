"""Spark schemas for the interleaved-document corpus and extraction output.

Input table per BASELINE.json input_hint:
    doc_id: string, spans: array<struct<kind,text,media_ref,offset:int>>
Output table (FIXTURES.md §2):
    doc_id: string, spans: array<struct<kind,text,media_ref,order:int>>
plus one output schema per parse-gated stage (the only declaration).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_IN = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("offset", T.IntegerType(), False),
])

DOC_IN = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_IN, False), False),
])

SPAN_OUT = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("order", T.IntegerType(), False),
])

EXTRACT_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_OUT, False), False),
    T.StructField("n_spans", T.IntegerType(), False),
    T.StructField("n_parse_errors", T.IntegerType(), False),
    T.StructField("bytes_tokenized", T.LongType(), False),
])

SELECT_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("match_idx", T.IntegerType(), False),
    T.StructField("tag", T.StringType(), False),
    T.StructField("el_id", T.StringType(), True),
    T.StructField("own_text", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
])

POSITIONS_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("match_idx", T.IntegerType(), False),
    T.StructField("tag", T.StringType(), False),
    T.StructField("src_start", T.IntegerType(), False),
    T.StructField("src_end", T.IntegerType(), False),
    T.StructField("end_start", T.IntegerType(), False),
    T.StructField("end_end", T.IntegerType(), False),
])

CLEAN_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("clean_html", T.StringType(), False),
    T.StructField("clean_text", T.StringType(), False),
    T.StructField("num_discarded", T.IntegerType(), False),
])

FRAGMENT_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("node_idx", T.IntegerType(), False),
    T.StructField("tag", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
])

XML_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("el_idx", T.IntegerType(), False),
    T.StructField("tag", T.StringType(), False),
    T.StructField("own_text", T.StringType(), True),
])

CSS_PATH_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), True),
    T.StructField("match_idx", T.IntegerType(), True),
    T.StructField("css_path", T.StringType(), True),
])

XPATH_XML_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), True),
    T.StructField("match_idx", T.IntegerType(), True),
    T.StructField("tag", T.StringType(), True),
    T.StructField("own_text", T.StringType(), True),
])

MAIN_CONTENT_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), True),
    T.StructField("tag", T.StringType(), True),
    T.StructField("el_id", T.StringType(), True),
    T.StructField("el_class", T.StringType(), True),
    T.StructField("score_e3", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
])

METADATA_OUT = T.StructType(
    [T.StructField("doc_id", T.StringType(), True)]
    + [T.StructField(f, T.StringType(), True)
       for f in ("title", "description", "author", "published",
                 "canonical_url", "image", "site_name", "lang",
                 "jsonld_type")]
    + [T.StructField("n_meta", T.IntegerType(), True)])

MARKDOWN_OUT = T.StructType([
    T.StructField("doc_id", T.StringType(), True),
    T.StructField("markdown", T.StringType(), True),
])

FEED_OUT = T.StructType(
    [T.StructField("doc_id", T.LongType(), True),
     T.StructField("ord", T.IntegerType(), True)]
    + [T.StructField(f, T.StringType(), True)
       for f in ("kind", "feed_title", "item_title", "link", "item_id",
                 "published", "summary")])

SITEMAP_OUT = T.StructType(
    [T.StructField("doc_id", T.LongType(), True),
     T.StructField("ord", T.IntegerType(), True)]
    + [T.StructField(f, T.StringType(), True)
       for f in ("kind", "loc", "lastmod", "changefreq", "priority")])
