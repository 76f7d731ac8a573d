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
(``hot_meta`` carrying the index's max_seg). A single-term query whose term
is cached and whose k <= cache_k answers from the tiny cache scan; the
SCORE is recomputed at query time with the live idf/avgdl through the same
float64 expression as the exact path, so results are bit-identical
(plan-gated: no postings scan). Any update bumps max_seg and invalidates
the cache until the next build/compaction rebuilds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.bm25 import BM25Params, tf_norm_sql
from ..session import _local_frame

#: k1/b are part of the cache identity: the within-term ranking (tf_norm
#: order) DEPENDS on them, so an engine may only serve from a cache built
#: with ITS parameters (SearchEngine checks at load; compact_updates passes
#: the stored values through when it rebuilds)
HOT_META_SCHEMA = (
    "max_seg long, cache_k int, min_df long, avgdl double, k1 double, b double"
)


def build_hot_term_cache(
    spark: SparkSession,
    catalog: Catalog,
    min_df: int,
    cache_k: int = 1024,
    params: BM25Params | None = None,
    max_seg: int = 0,
) -> int:
    """Precompute per-hot-term top-``cache_k`` postings. Returns the number
    of cached terms. Decodes ONLY the hot terms' blocks (partition-pruned
    scan) and runs one window top-k per term -- a bounded build-time job."""
    from .query import SearchEngine  # decode machinery; no cycle at runtime

    params = params or BM25Params()
    ts = catalog.read_table("term_stats")
    hot = [
        int(r["term_id"])
        for r in ts.filter(F.col("df") >= min_df).select("term_id").collect()
    ]
    corpus = catalog.read_table("corpus_stats").collect()[0]
    avgdl = float(corpus["avgdl"])
    if hot:
        eng = SearchEngine.__new__(SearchEngine)  # decode without full init
        eng.spark = spark
        eng._postings = catalog.read_table("postings")
        if "seg_seq" not in eng._postings.columns:
            eng._postings = eng._postings.withColumn(
                "seg_seq", F.lit(0).cast("long")
            )
        eng._tombstones = None
        w = Window.partitionBy("term_id").orderBy(
            F.expr(tf_norm_sql("tf", "dl", avgdl, params)).desc(),
            F.asc("doc_id"),
        )
        topk = (
            SearchEngine.decoded_postings(eng, hot)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= cache_k)
            .select("term_id", "doc_id", "tf", "dl", "rnk")
        )
    else:
        topk = _local_frame(
            spark, "term_id long, doc_id long, tf int, dl int, rnk int"
        )
    catalog.write_table(topk, "hot_topk")
    catalog.write_table(
        _local_frame(
            spark,
            HOT_META_SCHEMA,
            [(max_seg, cache_k, min_df, avgdl, params.k1, params.b)],
        ),
        "hot_meta",
    )
    return len(hot)
