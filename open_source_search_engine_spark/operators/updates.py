"""Incremental document updates & deletes (the negative-key rebuild).

Reference: a delete is a posting key with the delbit cleared; positive and
negative keys annihilate in the memtable and at merge (`Rdb.h:73-85`,
`Posdb.h:224-226` makeDeleteDocKey, `RdbList.cpp:2159`
posdbMerge_r(removeNegKeys); SURVEY.md O6, §2.9). A re-added doc first
deletes its old keys then adds new ones; queries see tree+files merged at
read (`Msg5.cpp:139`), so updates are visible BEFORE compaction.

Spark-first re-expression -- sequence-versioned segments + ranged tombstones:

* every posting segment carries a ``seg_seq`` (0 = initial build; each
  apply_updates appends a segment with the next sequence).
* a tombstone is ``(doc_id, upto_seq)``: ignore this doc's postings from any
  segment with seg_seq <= upto_seq. Upsert => tombstone at the current max
  sequence + new postings in the next; delete => tombstone only. This is
  EXACTLY the negative-key contract: the pair (tombstone, new postings)
  annihilates the old version at read time, row-locally (no cross-row state
  needed during decode -- each posting row knows its seg_seq).
* term_stats / corpus_stats are maintained by DELTA: old text tokenized with
  negative counts, new text with positive counts, merge-summed -- exact
  without a full recount (the annihilation idea applied to statistics).
* ``compact_updates`` = RdbMerge: drops tombstoned (doc, seq<=upto) postings
  physically, merges each (term_id, block_id) back to one row at seg_seq 0,
  then finishes like a build (index_build.finish_index: term_stats and
  corpus_stats' n_terms/n_blocks recounted, tombstones cleared, hot cache
  rebuilt).
* the documents write, the delta segment and corpus_stats go through the
  index writer's steps (index_build.load_documents, segment,
  write_corpus_stats), so an update writes what a build would.

Identity gate (tests): after updates (both before AND after compaction),
query results are rank-identical to a fresh build of the edited corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.bm25 import BM25Params
from ..session import _local_frame
from .index_build import (
    TOMBSTONES_SCHEMA,
    IndexConfig,
    _check_block_format,
    finish_index,
    load_documents,
    segment,
    stored_positions,
    tokenize_docs,
    without_skip_terms,
    write_corpus_stats,
)


def tombstones(spark: SparkSession, catalog: Catalog) -> DataFrame:
    if catalog.table_exists("tombstones"):
        return catalog.read_table("tombstones")
    return _local_frame(spark, TOMBSTONES_SCHEMA)


def max_seg_seq(catalog: Catalog) -> int:
    if catalog.table_exists("index_meta"):
        return int(catalog.read_table("index_meta").collect()[0]["max_seg"])
    return 0


def apply_updates(
    spark: SparkSession,
    catalog: Catalog,
    upserts: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    config: IndexConfig | None = None,
) -> dict:
    """Apply upserts (rows with doc_id + text; new or replacing) and deletes
    (doc_id column) to a built index. Visible to queries immediately --
    compaction is optional housekeeping.

    ``config`` must match the BUILD config (tokenizer_mode, bigrams,
    skip_terms, store_positions; a store_positions mismatch raises
    ValueError before anything is written): with bigrams=True the stats
    deltas and the delta segment both emit the 2-word phrase terms, so
    bigram-enabled indexes update exactly like unigram ones (gated:
    update-then-query rank identity on bigrams=True, tests/test_bigrams.py).

    The documents, the delta segment and corpus_stats are written by the
    index writer's steps (index_build.load_documents, segment,
    write_corpus_stats); term_stats is maintained by delta."""
    config = config or IndexConfig()
    _check_block_format(catalog.read_table("postings"))
    built_with = stored_positions(catalog)
    if config.store_positions != built_with:
        # a delta segment must store what the index stores: accepting it
        # would flip corpus_stats.store_positions and positional queries
        # would silently miss every doc of the other segments
        raise ValueError(
            f"apply_updates: config.store_positions={config.store_positions}"
            f" but the index was built with store_positions={built_with};"
            " update with the build's config"
        )
    docs = catalog.read_table("documents")
    cur_seq = max_seg_seq(catalog)
    new_seq = cur_seq + 1

    if upserts is None:
        upserts = _local_frame(spark, docs.schema)
    if delete_ids is None:
        delete_ids = _local_frame(spark, "doc_id long")
    up_ids = upserts.select("doc_id").distinct()
    del_ids = delete_ids.select("doc_id").distinct()
    gone_ids = up_ids.unionByName(del_ids).distinct()

    old_docs = docs.join(gone_ids, "doc_id", "left_semi")
    n_old = old_docs.count()
    n_new = upserts.count()

    # ---- stats deltas: negative keys for old text, positive for new ------
    # each row carries the tokenizer's term id (``tid``, a function of the
    # term), so a term new to the dictionary takes its id from the delta
    neg = tokenize_docs(old_docs, config.tokenizer_mode, config.bigrams).select(
        "term",
        F.col("term_id").alias("tid"),
        F.lit(-1).alias("ddf"),
        (-F.col("tf")).cast("long").alias("dcf"),
    )
    pos = tokenize_docs(upserts, config.tokenizer_mode, config.bigrams).select(
        "term",
        F.col("term_id").alias("tid"),
        F.lit(1).alias("ddf"),
        F.col("tf").cast("long").alias("dcf"),
    )
    delta = (
        neg.unionByName(pos)
        .groupBy("term", "tid")
        .agg(F.sum("ddf").alias("ddf"), F.sum("dcf").alias("dcf"))
    )
    # skip words have no termlists and no term_stats rows in the built
    # index, so their deltas must not create them
    delta = without_skip_terms(delta, config.skip_terms)
    # eager materialization BEFORE the documents overwrite below: the
    # negative leg tokenizes the OLD doc versions, and in a
    # snapshot-resolved catalog (Iceberg) a lazy read evaluated after the
    # overwrite commit would tokenize the NEW text instead -- the delta
    # would net to 0 and df/cf drift permanently. (Parquet-snapshot mode
    # pins the file list at read_table time, which masked this.)
    delta = delta.localCheckpoint(eager=True)
    ts = catalog.read_table("term_stats")
    new_ts = (
        ts.join(delta, "term", "full_outer")
        .select(
            F.coalesce("term_id", "tid").alias("term_id"),
            "term",
            (F.coalesce("df", F.lit(0)) + F.coalesce("ddf", F.lit(0)))
            .cast("long")
            .alias("df"),
            (F.coalesce("cf", F.lit(0)) + F.coalesce("dcf", F.lit(0)))
            .cast("long")
            .alias("cf"),
            # carried forward (grouping-granularity hint only; new terms'
            # delta segments are tiny -> salt_bits 0 is the right default).
            # A delta segment's blocks are built at salt_bits 0, so min
            # drops to 0 for the terms THIS delta touches -- and only
            # those: zeroing every row (the old behavior) collapsed
            # wand.pick_granularity's floor for all queries after one tiny
            # upsert, until compaction recomputed it
            F.coalesce("max_salt_bits", F.lit(0)).cast("int").alias(
                "max_salt_bits"
            ),
            F.when(F.col("ddf").isNotNull(), F.lit(0))
            .otherwise(F.coalesce("min_salt_bits", F.lit(0)))
            .cast("int")
            .alias("min_salt_bits"),
        )
        .filter(F.col("df") > 0)
    )

    # ---- documents table: drop old versions, add new ---------------------
    # align upserts to the documents schema: columns the upsert source does
    # not carry (e.g. enrichment columns on the doc store) become NULL
    up_cols = set(upserts.columns)
    aligned = upserts.select(
        *[
            F.col(c)
            if c in up_cols
            else F.lit(None).cast(docs.schema[c].dataType).alias(c)
            for c in docs.columns
            if c != "dl"
        ]
    )
    new_docs, n_docs, avgdl = load_documents(
        spark, catalog, aligned, config.tokenizer_mode,
        kept=docs.join(gone_ids, "doc_id", "left_anti"),
    )
    catalog.write_table(new_ts, "term_stats")

    # ---- tombstones: annihilate every prior version ----------------------
    new_tombs = gone_ids.withColumn("upto_seq", F.lit(cur_seq).cast("long"))
    catalog.write_table(
        tombstones(spark, catalog)
        .unionByName(new_tombs)
        .groupBy("doc_id")
        .agg(F.max("upto_seq").alias("upto_seq")),
        "tombstones",
    )

    # ---- delta posting segment at the new sequence -----------------------
    fresh = new_docs.join(up_ids, "doc_id", "left_semi")
    catalog.append_table(segment(fresh, config, new_seq), "postings")
    catalog.write_table(
        _local_frame(spark, "max_seg long", [(new_seq,)]), "index_meta"
    )
    write_corpus_stats(spark, catalog, n_docs, avgdl, config.store_positions)
    # ---- automatic compaction (Rdb.h:279 minToMerge) ----------------------
    auto_compacted = False
    if config.min_to_merge:
        auto_compacted = maybe_compact(spark, catalog, config.min_to_merge)
    return {
        "upserted": n_new,
        "replaced_or_deleted": n_old,
        "seg_seq": new_seq,
        "auto_compacted": auto_compacted,
    }


def live_segments(catalog: Catalog) -> int:
    """Live posting segment count: the initial build (seg 0) plus one per
    applied delta — the analog of the reference's per-Rdb file count
    (`Rdb.h:270` getNumFiles feeding the merge policy)."""
    return max_seg_seq(catalog) + 1


def maybe_compact(
    spark: SparkSession, catalog: Catalog, min_segments: int
) -> bool:
    """Segment-count compaction policy (`Rdb.h:279` m_minToMerge;
    `Rdb.cpp:41` attemptMergeAll — the reference fires merges ITSELF when
    an Rdb reaches minToMerge files; callers never schedule them): compact
    when the live segment count reaches ``min_segments``, no-op below it.
    Returns True iff a compaction fired. Queries are identical either way
    (compaction is physical annihilation of already-invisible rows —
    gated in tests/test_updates.py::test_auto_compaction_policy)."""
    if live_segments(catalog) >= int(min_segments):
        compact_updates(spark, catalog)
        return True
    return False


def compact_updates(spark: SparkSession, catalog: Catalog) -> int:
    """RdbMerge annihilation pass: drop tombstoned postings physically,
    merge every (term_id, block_id) back to one row, reset sequences,
    clear tombstones. Returns the number of tombstones cleared."""
    from .resumable import merge_postings

    tombs = tombstones(spark, catalog)
    n_tombs = tombs.count()
    # annihilation must look INSIDE blocks (a block's doc_ids are packed):
    # the decode-merge-encode pass applies the tombstone set row-locally
    merge_postings(spark, catalog, tombstone_df=tombs)
    # term_stats recomputed from the compacted postings: df/cf stay exact
    # and the per-term salt-bits profile -- which updates conservatively
    # zeroed -- recovers, restoring WAND's grouping granularity. The hot
    # cache is rebuilt against the compacted postings with the ORIGINAL
    # build's k1/b: defaults would silently change the cached tf_norm
    # ranking of a non-default-params index
    hot = None
    if catalog.table_exists("hot_meta"):
        meta = catalog.read_table("hot_meta").first()
        hot = (
            int(meta["min_df"]),
            int(meta["cache_k"]),
            BM25Params(k1=float(meta["k1"]), b=float(meta["b"])),
        )
    # compaction leaves the live docs as they are: n_docs, avgdl and the
    # positions flag carry over, n_terms and n_blocks are recounted
    cs = catalog.read_table("corpus_stats").first()
    finish_index(
        spark, catalog,
        (int(cs["n_docs"]), float(cs["avgdl"]), bool(cs["store_positions"])),
        hot,
    )
    return n_tombs


def term_stats_diff(old_catalog, new_catalog, top_k: int = 20) -> DataFrame:
    """Dictionary drift between two index states — typically a
    ``Catalog.at(capture())`` pin and the live catalog after updates: per
    term, the exact df before and after, top movers first. The ops
    surface for "what did this batch of upserts/deletes do to the
    index", and a direct audit of the update path's delta-exact
    term_stats contract (the reported df_new is the stats table the
    serving paths actually use, not a recount).

    Scale shape: both sides are term_stats reads (the dictionary — tiny
    next to postings), one full-outer join keyed on term, abs-delta
    TakeOrderedAndProject. Works across any two catalogs/snapshot views
    that share a tokenizer, including two pins of the SAME catalog
    (before/after an arbitrary span of commits)."""
    old = old_catalog.read_table("term_stats").select(
        "term", F.col("df").alias("df_old")
    )
    new = new_catalog.read_table("term_stats").select(
        "term", F.col("df").alias("df_new")
    )
    return (
        old.join(new, "term", "full_outer")
        .select(
            "term",
            F.coalesce(F.col("df_old"), F.lit(0)).cast("long").alias("df_old"),
            F.coalesce(F.col("df_new"), F.lit(0)).cast("long").alias("df_new"),
        )
        .withColumn("delta", (F.col("df_new") - F.col("df_old")).cast("long"))
        .filter(F.col("delta") != 0)
        .orderBy(F.abs(F.col("delta")).desc(), F.asc("term"))
        .limit(int(top_k))
    )
