"""tantivy_search_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch rebuild of the capabilities of ``myscale/tantivy-search``
(reference snapshot at /root/reference, Rust FFI wrapper around a forked
Tantivy 0.21) re-expressed Spark-first:

* index build  = DataFrame pipeline: vectorized tokenize (Arrow pandas UDF)
  -> per-partition segment posting lists (delta-encoded docID blocks with
  skip pointers + block-max metadata) -> term-keyed merge with skew salting
  -> parquet/Iceberg-layout index tables.
* query        = broadcast token lookup -> partition-pruned posting scan ->
  per-doc-range block-max WAND scoring in Arrow UDFs -> global top-k.
* global stats = tiny aggregate + broadcast, reproducing the reference's
  multi-part Statistics injection (distributed-correct BM25, see
  /root/reference/src/search/implements/api_myscale/bm25_inner_search.rs:36-62).

No code is copied from the reference; semantics are reproduced from its
public behavior and test goldens (see SURVEY.md / FIXTURES.md).
"""

# first: Spark Python workers that unpickle an engine UDF run this once
from tantivy_search_spark import _worker

_worker.install()

from tantivy_search_spark.config import IndexConfig, verify_index_parameter
from tantivy_search_spark.index.builder import IndexBuilder, assign_doc_ids
from tantivy_search_spark.search.engine import SearchIndex, Statistics

__all__ = [
    "IndexConfig",
    "verify_index_parameter",
    "IndexBuilder",
    "assign_doc_ids",
    "SearchIndex",
    "Statistics",
]

__version__ = "0.1.0"
