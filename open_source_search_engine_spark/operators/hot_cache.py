"""High-frequency-term shortcut cache (HighFrequencyTermShortcuts.cpp rebuild).

Reference: single-stopword queries force the engine to decode an enormous
termlist just to return the same top documents every time, so the reference
precomputes per-stopword posting shortcuts (`HighFrequencyTermShortcuts.cpp`,
221 LoC; loaded at startup, consulted before the full Posdb read). The
salting + block-max-WAND design already bounds the COST of hot termlists,
but a single-term query still decodes ~df/target_reduce_docs blocks to rank
what is a build-time-known ordering.

Spark rebuild: at index build, for every term with df >= min_df, rank its
postings ONCE by the single-term BM25 ordering -- within one term the order
is tf_norm(tf, dl) desc, doc_id asc (idf is a positive per-term constant,
so it cannot change the within-term order) -- and store the top ``cache_k``
(doc_id, tf, dl, rnk) rows in a ``hot_topk`` table plus a freshness marker
(``hot_meta``, naming the postings snapshot the cache was built from). A
single-term query whose term is cached and whose k <= cache_k answers from
the tiny cache scan; the SCORE is recomputed at query time with the live
idf/avgdl through the same float64 expression as the exact path, so
results are bit-identical (plan-gated: no postings scan).

The cache is built by the index writer's finish step
(index_build.finish_index: build_index, resumable_build and
compact_updates). Any later write of the postings -- an update's delta
segment, a rebuild without the cache, a merge -- commits a new postings
snapshot, and SearchEngine serves the cache only while the snapshot it
names is the current one.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.bm25 import BM25Params, tf_norm_sql
from ..session import _local_frame

#: k1/b are part of the cache identity: the within-term ranking (tf_norm
#: order) DEPENDS on them, so an engine may only serve from a cache built
#: with ITS parameters (SearchEngine checks at load; compact_updates passes
#: the stored values through when it rebuilds)
HOT_META_SCHEMA = (
    "postings_snapshot string, cache_k int, min_df long, k1 double, b double"
)


def build_hot_term_cache(
    spark: SparkSession,
    catalog: Catalog,
    min_df: int,
    cache_k: int = 1024,
    params: BM25Params | None = None,
) -> int:
    """Precompute per-hot-term top-``cache_k`` postings. Returns the number
    of cached terms. Decodes ONLY the hot terms' blocks (partition-pruned
    scan) and runs one window top-k per term -- a bounded build-time job."""
    from .query import decode_postings  # no cycle at runtime

    params = params or BM25Params()
    ts = catalog.read_table("term_stats")
    hot = [
        int(r["term_id"])
        for r in ts.filter(F.col("df") >= min_df).select("term_id").collect()
    ]
    avgdl = float(catalog.read_table("corpus_stats").first()["avgdl"])
    w = Window.partitionBy("term_id").orderBy(
        F.expr(tf_norm_sql("tf", "dl", avgdl, params)).desc(),
        F.asc("doc_id"),
    )
    topk = (
        decode_postings(catalog.read_table("postings"), hot)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= cache_k)
        .select("term_id", "doc_id", "tf", "dl", "rnk")
    )
    catalog.write_table(topk, "hot_topk")
    catalog.write_table(
        _local_frame(
            spark,
            HOT_META_SCHEMA,
            [(catalog.snapshot_id("postings"), cache_k, min_df, params.k1,
              params.b)],
        ),
        "hot_meta",
    )
    return len(hot)
