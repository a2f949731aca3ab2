"""clinical_trial_searchengine_spark — PySpark-native inverted-index + BM25 engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of khussalpradhan/Clinical-Trial-SearchEngine (reference at
/root/reference): inverted-index construction, BM25 (k1=1.2, b=0.75) top-k
retrieval with block-max WAND, RRF fusion, filter context, plus the
training-data-pipeline operators (dedup, similarity search, text analysis)
a 100 TB corpus needs.

The reference delegates indexing/scoring to OpenSearch/Lucene
(reference: backend/search/mapping.json, backend/api/main.py:213-316);
here the same semantics are a Spark DataFrame pipeline: vectorized
pandas/Arrow UDFs for the analyzer chain, a doc-sharded compressed segment
layout, and distributed per-shard scoring kernels with bounded heaps merged
via TakeOrderedAndProject.
"""

__version__ = "0.1.0"
