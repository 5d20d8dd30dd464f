"""jsoup_spark — a PySpark-native HTML extraction engine.

Top-level facade mirroring the reference's `Jsoup` static API
(org/jsoup/Jsoup.java): per-document parse/clean entry points. The
distributed surface lives in `jsoup_spark.operators` (pipeline stages),
`jsoup_spark.sources` (corpus/ingest/sinks) and `jsoup_spark.streaming`;
none of it is imported here, so this package import stays Spark-free for
UDF workers and plain-Python use.
"""

from .parser.treebuilder import (  # noqa: F401
    HTML_DEFAULT, PRESERVE_CASE, ParseSettings, parse, parse_body_fragment,
    parse_fragment,
)
from .parser.tags import Tag, TagSet  # noqa: F401
from .helper.w3cdom import W3CDom  # noqa: F401
from .parser.xmlbuilder import parse_xml  # noqa: F401
from .parser.streamparser import StreamParser  # noqa: F401
from .sources.ingest import load_file, load_stream  # noqa: F401
from .clean.cleaner import clean_html  # noqa: F401
from .clean.safelist import Safelist  # noqa: F401
from .select.selector import (  # noqa: F401
    compile_query, elements_not, filter_out, select_first, select_multi,
)

__all__ = [
    "parse", "parse_fragment", "parse_body_fragment", "parse_xml",
    "ParseSettings", "HTML_DEFAULT", "PRESERVE_CASE",
    "StreamParser", "Tag", "TagSet", "W3CDom", "load_file", "load_stream",
    "clean_html", "Safelist", "select_first", "select_multi",
    "filter_out", "elements_not", "compile_query",
]
