"""cuely_spark — a PySpark-native full-text indexing + BM25 retrieval engine.

Built from scratch against the behavior of the Cuely/Stract search core
(reference at /root/reference, Rust/tantivy). Spark-first architecture:

- tokenization/normalization as vectorized Arrow/pandas UDFs
  (:mod:`cuely_spark.tokenizer`)
- inverted-index segments as doc-range-partitioned Parquet posting-block
  tables with delta-gap + varbyte compression (:mod:`cuely_spark.indexer`)
- segment merge as a term-keyed sort-merge shuffle with hot-term salting
  (:mod:`cuely_spark.indexer.merge`)
- BM25 (k1=1.2, b=0.75) top-k query engine with block-max pruning
  (:mod:`cuely_spark.queryengine`)
- training-data-pipeline operators: dedup, similarity search, text stats
  (:mod:`cuely_spark.ops`)
"""

__version__ = "0.1.0"

K1 = 1.2  # reference: crates/core/src/ranking/bm25.rs:8
B = 0.75  # reference: crates/core/src/ranking/bm25.rs:9
BLOCK_SIZE = 128  # reference: crates/tantivy/src/postings/compression/mod.rs:4
TOP_K_DEFAULT = 20  # reference: crates/core/src/searcher/mod.rs:44
MAX_TERMS_PER_QUERY = 32  # reference: crates/core/src/query/parser/mod.rs:17

# every engine UDF imports this package, so the first task in each Spark
# Python worker installs the worker set-up (a no-op on the driver)
from ._worker import (freeze_import_heap,  # noqa: E402
                      skip_unchanged_zip_rereads)

skip_unchanged_zip_rereads()
freeze_import_heap()
