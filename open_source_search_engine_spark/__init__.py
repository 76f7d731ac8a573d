"""PySpark-native inverted-index + BM25 query engine.

A brand-new Spark-first rebuild (NOT a port) of the indexing and query core of
Gigablast (reference: sunlynx/open-source-search-engine at /root/reference).
The reference defines WHAT is computed -- posting-list construction/merge/
compression, conjunctive & disjunctive top-k retrieval with deterministic
tie-breaks (score desc, doc_id asc; reference `TopTree.cpp:185-260`,
`Msg3a.cpp:807-811`), document-frequency statistics, resumable incremental
builds -- while HOW is idiomatic PySpark: DataFrames + Arrow-vectorized pandas
UDFs + a snapshot-isolated table catalog (Iceberg when the runtime jar is
present; an equivalent atomic-manifest parquet warehouse otherwise).

Package layout:
  functions/  pure kernels: tokenizer, posting-block format, BM25 formula, hashing
  sources/    transcripts synthesizer + table readers/writers
  operators/  index build, query (exact + block-max WAND), dedup, similarity
  streaming/  incremental micro-batch index appends
(plan-quality assertions live in tests/test_plan_quality.py)
"""

__version__ = "0.1.0"
