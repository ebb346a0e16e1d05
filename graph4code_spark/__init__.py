"""graph4code_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the query/data-processing capabilities of
wala/graph4code (GraphGen4Code) on Apache Spark:

- ingest Common-Crawl-style web pages ``(url, warc_ts, html, text, lang)``
- extract text/code byte-identically per url (vectorized Arrow UDF)
- detect + link code-entity mentions against a broadcast API catalog
- emit the graph4code triple vocabulary (documentation / forum / flow edges)
- canonicalize co-referent entities (alias map + iterative connected
  components with salted keys)
- materialize a deduplicated quad table partitioned by (pred, subj_hash)

Everything is DataFrame-first: Catalyst handles pushdown/pruning/join
selection; Python appears only inside Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

from graph4code_spark import _zipcache
from graph4code_spark.session import get_spark  # noqa: F401

# workers import the package when they unpickle its functions: from then
# on their per-task import-cache reset skips unchanged zip archives
_zipcache.install()
