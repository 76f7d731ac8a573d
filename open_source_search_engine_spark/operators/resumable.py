"""Resumable, checkpointed index builds with per-partition lineage + metrics.

Reference: adds-in-progress survive restarts (`Msg4Out.h:8-10`
saveAddsInProgress); each Rdb file becomes readable only after a full dump
(`RdbDump.cpp:251`, `test/unit/PosdbTest.cpp:18-25` markNewFileReadable);
RdbBase tracks the live file set; background RdbMerge compacts N files into
one (`RdbMerge.cpp:53`) with a recorded fan-in.

Spark-first rebuild (north rule: "resumable from per-partition checkpoints
with lineage and build metrics (postings/sec, bytes compressed, merge fan-in)
recorded per partition"):

* The corpus is split into ``n_partitions`` deterministic build partitions
  (hash of doc_id -- partition membership is independent of input layout).
* Each partition's postings are written to its OWN segment directory
  (``segments/<build_id>/part-NNNN``), then a ``build_manifest`` row is
  appended: (build_id, partition, input_fingerprint, segment path, status,
  rows, blocks, bytes, elapsed, postings/sec). Write-then-mark-readable:
  a crash between segment write and manifest append just re-runs the
  partition with mode=overwrite -- idempotent.
* A restarted build skips every partition whose manifest row is committed
  AND whose input fingerprint still matches (stale partitions re-run).
* Finalize: ALL committed segment dirs are registered into the ``postings``
  table in ONE atomic snapshot commit (merge fan-in = number of segments),
  then build_metrics is appended.

The documents load, each partition's segment and the finish (term_stats,
corpus_stats, update-state reset, hot cache) are the index writer's steps
(index_build.load_documents, segment, finish_index), so a resumable build
writes the index build_index writes, with per-partition blocks.

At 10^12 turns each partition is a separate bounded Spark job; the driver
loop is O(n_partitions), all data movement stays distributed.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import _PARQUET_WRITER, Catalog
from ..session import _local_frame
from .index_build import (
    POSTINGS_SCHEMA,
    IndexConfig,
    _check_block_format,
    _merge_stream_factory,
    finish_index,
    hot_cache_spec,
    load_documents,
    segment,
    stored_positions,
)

MANIFEST_SCHEMA = (
    "build_id string, partition int, input_fingerprint long, segment string, "
    "status string, rows long, blocks long, bytes long, elapsed_sec double, "
    "postings_per_sec double, committed_at double"
)

METRICS_SCHEMA = (
    "build_id string, n_partitions int, merge_fan_in int, n_docs long, "
    "n_blocks long, bytes_compressed long, elapsed_sec double, "
    "turns_per_sec double, committed_at double"
)


class SimulatedFailure(RuntimeError):
    """Raised by fail_after_partition -- the kill-and-resume test hook."""


@dataclass
class ResumableResult:
    build_id: str
    n_partitions: int
    partitions_run: int
    partitions_skipped: int
    n_docs: int
    n_blocks: int
    elapsed_sec: float


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _fingerprints(docs: DataFrame, n_partitions: int) -> dict[int, tuple[int, int]]:
    """Per-partition input fingerprint: (row count, xor-fold of doc_id).
    Order-independent, cheap, detects any add/remove/change of membership."""
    rows = (
        docs.groupBy(F.pmod(F.col("doc_id"), F.lit(n_partitions)).alias("p"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("doc_id", "text").cast("long")).alias("fp"),
        )
        .collect()
    )
    return {int(r["p"]): (int(r["n"]), int(r["fp"])) for r in rows}


def resumable_build(
    spark: SparkSession,
    catalog: Catalog,
    docs: DataFrame,
    config: IndexConfig | None = None,
    n_partitions: int = 8,
    build_id: str = "build-0",
    fail_after_partition: int | None = None,
) -> ResumableResult:
    """Checkpointed build of documents/postings/term_stats/corpus_stats.

    ``docs`` must have (doc_id long, text string, ...). Re-invoking with the
    same build_id resumes: committed, fingerprint-matching partitions are
    skipped. ``fail_after_partition=i`` raises after partition i commits
    (test hook for the kill-and-resume gate).
    """
    config = config or IndexConfig()
    t0 = time.time()
    docs, n_docs, avgdl = load_documents(
        spark, catalog, docs, config.tokenizer_mode
    )
    fps = _fingerprints(docs, n_partitions)
    committed: dict[int, dict] = {}
    if catalog.table_exists("build_manifest"):
        for r in (
            catalog.read_table("build_manifest")
            .filter(
                (F.col("build_id") == build_id) & (F.col("status") == "committed")
            )
            .collect()
        ):
            committed[int(r["partition"])] = r.asDict()

    seg_root = os.path.join(catalog.warehouse, "segments", build_id)
    run = skipped = 0
    segments: list[str] = []
    for p in range(n_partitions):
        n_p, fp_p = fps.get(p, (0, 0))
        fingerprint = (fp_p ^ (n_p << 1)) & ((1 << 63) - 1)
        prev = committed.get(p)
        # segment dir name carries the input fingerprint: a crash-rerun of
        # the SAME input overwrites the same dir idempotently, while a rerun
        # whose input CHANGED lands in a fresh dir -- the superseded dir
        # stays on disk for readers of the old postings snapshot until GC
        # (write-new-then-commit, never overwrite a dir a live manifest may
        # reference; Rdb analog: updateToRebuildFiles swap, `Rdb.h:227`)
        seg_dir = os.path.join(seg_root, f"part-{p:04d}-{fingerprint:016x}")
        if (
            prev is not None
            and int(prev["input_fingerprint"]) == fingerprint
            and os.path.exists(os.path.join(prev["segment"], "_SUCCESS"))
        ):
            segments.append(prev["segment"])
            skipped += 1
            continue
        tp = time.time()
        part_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(n_partitions)) == p)
        segment(part_docs, config, 0).write.mode("overwrite").option(
            *_PARQUET_WRITER
        ).parquet(seg_dir)
        elapsed = time.time() - tp
        seg_bytes = _dir_bytes(seg_dir)
        blocks = spark.read.parquet(seg_dir).count()
        row = [
            (
                build_id, p, fingerprint, seg_dir, "committed",
                n_p, blocks, seg_bytes, elapsed,
                (n_p / elapsed) if elapsed > 0 else 0.0, time.time(),
            )
        ]
        catalog.append_table(
            _local_frame(spark, MANIFEST_SCHEMA, row), "build_manifest"
        )
        segments.append(seg_dir)
        run += 1
        if fail_after_partition is not None and p >= fail_after_partition:
            raise SimulatedFailure(f"injected failure after partition {p}")

    # finalize: one atomic commit registers every segment (merge fan-in)
    catalog.commit_data_dirs("postings", segments, mode="overwrite")
    _n_terms, n_blocks = finish_index(
        spark, catalog, (n_docs, avgdl, config.store_positions),
        hot_cache_spec(config, n_docs),
    )
    elapsed = time.time() - t0
    catalog.append_table(
        _local_frame(
            spark,
            METRICS_SCHEMA,
            [
                (
                    build_id, n_partitions, len(segments), n_docs, n_blocks,
                    sum(_dir_bytes(s) for s in segments), elapsed,
                    (n_docs / elapsed) if elapsed > 0 else 0.0, time.time(),
                )
            ],
        ),
        "build_metrics",
    )
    return ResumableResult(
        build_id=build_id,
        n_partitions=n_partitions,
        partitions_run=run,
        partitions_skipped=skipped,
        n_docs=n_docs,
        n_blocks=n_blocks,
        elapsed_sec=elapsed,
    )


def route_tombstones(
    tombstone_df: DataFrame, salt_bits_values: list[int]
) -> DataFrame:
    """Tombstones -> per-block packed tombstone rows: for every granularity
    ``s`` present in the postings table, a tombstoned doc belongs to exactly
    ONE block (block_id = top s bits of the splitmix doc hash -- the same
    routing the build combiner uses, `index_build._partial_encoder`).
    Output: (salt_bits, block_id, tombs array<struct<doc_id, upto_seq>>),
    one row per block that has any tombstoned doc.

    This is the distributed replacement for collecting the tombstone table
    into a driver dict (r1/r2 anti-pattern): the posting-side join on
    (salt_bits, block_id) ships each block ONLY its own tombstones, so
    heavy churn between compactions never serializes an unbounded dict
    into every task closure."""
    from ..functions.hashing import py_block_ids

    @F.pandas_udf("long")
    def blk(doc_ids: pd.Series, sbits: pd.Series) -> pd.Series:
        h = py_block_ids(doc_ids.to_numpy("int64"))
        s = sbits.to_numpy("int64")
        return pd.Series(h >> (np.int64(63) - s))

    sb = F.array(*[F.lit(int(s)) for s in sorted(set(salt_bits_values))])
    return (
        tombstone_df.withColumn("salt_bits", F.explode(sb))
        .withColumn("block_id", blk(F.col("doc_id"), F.col("salt_bits")))
        .groupBy("salt_bits", "block_id")
        .agg(
            F.collect_list(F.struct("doc_id", "upto_seq")).alias("tombs")
        )
    )


def merge_postings(
    spark: SparkSession,
    catalog: Catalog,
    tombstone_df: DataFrame | None = None,
) -> int:
    """Compaction: merge multi-segment postings so each (term_id, block_id)
    is one row again (the RdbMerge analog, `RdbMerge.cpp:53`; Iceberg:
    rewrite_data_files), annihilating tombstoned postings on the way
    (`RdbList.cpp:2159` posdbMerge_r removeNegKeys). A posting survives iff
    NOT (its doc_id is tombstoned AND its segment seg_seq <= upto_seq).
    Output rows all carry seg_seq 0. Returns the file-set fan-in merged.

    Tombstones ship via a distributed (salt_bits, block_id) equi-join
    (route_tombstones) -- each merge task sees only its blocks' tombstones;
    nothing tombstone-sized ever reaches the driver. The only driver-side
    metadata is the distinct salt_bits set (one int per granularity level,
    ~40 values max by construction)."""
    postings = catalog.read_table("postings")
    _check_block_format(postings)
    fan_in = len(catalog.data_dirs("postings"))
    packed_tombs = False
    if tombstone_df is not None and tombstone_df.limit(1).count():
        sbits_vals = [
            int(r["salt_bits"])
            for r in postings.select("salt_bits").distinct().collect()
        ]
        routed = route_tombstones(tombstone_df, sbits_vals)
        postings = postings.join(routed, ["salt_bits", "block_id"], "left_outer")
        packed_tombs = True
    stream = _merge_stream_factory(stored_positions(catalog), packed_tombs)
    merged = (
        postings.repartition(
            F.col("term_id"), F.col("salt_bits"), F.col("block_id")
        )
        .sortWithinPartitions("term_id", "salt_bits", "block_id", "seg_seq")
        .mapInArrow(stream, schema=POSTINGS_SCHEMA)
        .withColumn("seg_seq", F.lit(0).cast("long"))
    )
    catalog.write_table(merged, "postings")
    return fan_in
