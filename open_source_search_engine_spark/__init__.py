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

import os
import sys
import zipimport

__version__ = "0.1.0"


def _lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (mtime_ns, size, inode) changed since it was last read (Python <
    3.13; 3.13 made this invalidation lazy itself).

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and before 3.13 each zip importer then re-parses its
    archive's whole central directory: a worker holds about 20 importers
    over pyspark.zip, the spark-core jar, py4j and this package's shipped
    zip, some 27k entries, about 0.2 s of CPU per task. The first engine
    task a worker runs imports this package, so every later task in that
    worker skips the re-read. Archives already cached at import count as
    read at import: in a worker that is the current task's start, when
    the eager invalidation has just re-read them all."""
    # 3.9 has no zipimporter.invalidate_caches: nothing to make lazy
    eager = getattr(zipimport.zipimporter, "invalidate_caches", None)
    installed = getattr(eager, "__module__", None) == __name__
    if sys.version_info >= (3, 13) or eager is None or installed:
        return
    cache = zipimport._zip_directory_cache

    def signature(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    read_as = {a: signature(a) for a in cache}
    read_directory = zipimport._read_directory

    def _read_directory(archive):
        sig = signature(archive)
        files = read_directory(archive)
        read_as[archive] = sig
        return files

    def invalidate_caches(self):
        sig = signature(self.archive)
        if sig is not None and read_as.get(self.archive) == sig and (
            self.archive in cache
        ):
            self._files = cache[self.archive]
        else:
            eager(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()
