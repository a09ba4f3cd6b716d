"""pdfplumber_rs_spark — a PySpark-native document-layout extraction engine.

Re-implements the query/data-processing surface of the reference
``developer0hye/pdfplumber-rs`` (a Rust pdfplumber clone) as a Spark-first
pipeline: an Iceberg/Parquet table of Common-Crawl-style pages
``(url, warc_ts, html:binary, text, lang)`` flows through vectorized
Arrow/pandas UDF kernels (PDF tokenizer -> content-stream interpreter ->
char/word/line/table extraction) and Spark-native relational operators
(windows, aggregations, joins) to produce exploded object tables and a
per-url ``extract_text`` result.

Nothing here is a port of the reference's Rust architecture; the kernel
is a from-scratch pure-Python/numpy implementation of the same *semantics*
(tolerances, clustering rules, coordinate conventions), and everything
relational is DataFrame/SQL so Catalyst can optimize it.
"""

from . import zipcache as _zipcache

__version__ = "0.1.0"

# Unpickling any engine kernel imports this package, so every later task
# on a reused PySpark worker skips the per-task zip directory re-read.
_zipcache.install()
