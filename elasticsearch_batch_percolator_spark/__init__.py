"""PySpark-native batch-percolation / inverted-index / BM25 engine.

A from-scratch re-expression of the capabilities of
YouScan/elasticsearch-batch-percolator (an Elasticsearch 2.4 plugin that
matches a large registered-query set against incoming document batches,
see reference README.md:1-12) as idiomatic PySpark DataFrame programs:

- tokenize -> posting lists -> compressed posting segments (index build)
- BM25 top-k query engine (join-based scorer + one per-segment index scorer)
- two-phase percolation (limiting-filter approximation + exact verify),
  mirroring LimitingFilterFactory.java:47-253
- Structured Streaming percolation over document micro-batches
- training-data pipeline ops: dedup (exact/minhash/simhash/jaccard),
  embedding similarity search, text analysis, multimodal plumbing.

Everything is DataFrame/Catalyst-first; Python crosses the JVM boundary
only through Arrow-vectorized pandas UDFs (codec, positional verify).
"""

__version__ = "0.6.0"

TOKEN_PATTERN = "[^a-z0-9_]+"  # code-aware: identifiers survive, case-folded
BM25_K1 = 1.2
BM25_B = 0.75
