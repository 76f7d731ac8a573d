#!/usr/bin/env python
"""spark-submit entry point: build the inverted index over a transcripts
table and serve a smoke query set, printing one metrics JSON line.

The north-rule run mode -- the cluster supplies master/executors via
spark-submit flags; the package ships via --py-files (no repo checkout on
the cluster):

    python scripts/make_pyfiles.py /tmp/osse_pyfiles.zip
    spark-submit --master local[8] --py-files /tmp/osse_pyfiles.zip \
        scripts/submit_build.py \
        --input /path/to/transcripts.parquet --warehouse /tmp/osse-wh \
        [--table osse.db.transcripts] [--tokenizer ascii] [--turns 100000]

--input reads a parquet path; --table reads a catalog table (e.g. an
Iceberg table when the runtime jar is on the cluster); with neither, a
deterministic synthetic corpus of --turns transcript turns is generated.
Unlike the library's get_spark (which sets master for local runs), this
script takes the session FROM spark-submit and only applies the engine's
SQL-level tuning, so `--master yarn --num-executors N` behaves as the
cluster operator intends.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession


def tuned_session(app_name: str = "osse-submit-build") -> SparkSession:
    """getOrCreate() from the spark-submit context, then apply the engine's
    runtime-settable SQL tuning (the cluster-level knobs -- master, executor
    count/memory -- belong to spark-submit flags, not this script)."""
    spark = SparkSession.builder.appName(app_name).getOrCreate()
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
            "OSSE_ADVISORY_PARTITION_BYTES", "16m"
        ),
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "OSSE_MAX_PARTITION_BYTES", "32m"
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.parquet.filterPushdown": "true",
        # wide posting-block list cells: see session.py's sizing note
        "spark.sql.parquet.columnarReaderBatchSize": os.environ.get(
            "OSSE_PARQUET_BATCH_ROWS", "512"
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }.items():
        spark.conf.set(k, v)
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--table", help="catalog table name (e.g. Iceberg)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--tokenizer", default="ascii", choices=["ascii", "unicode"])
    ap.add_argument("--turns", type=int, default=100_000,
                    help="synthetic corpus size when no --input/--table")
    ap.add_argument("--hot-cache-k", type=int, default=0)
    args = ap.parse_args()

    spark = tuned_session()
    spark.sparkContext.setLogLevel("ERROR")

    # imports AFTER session exists: the package arrives via --py-files
    from open_source_search_engine_spark.catalog import Catalog
    from open_source_search_engine_spark.operators.index_build import (
        IndexConfig,
        build_index,
        transcripts_to_docs,
    )
    from open_source_search_engine_spark.operators.query import SearchEngine

    if args.table:
        tr = spark.read.table(args.table)
    elif args.input:
        tr = spark.read.parquet(args.input)
    else:
        from open_source_search_engine_spark.sources.transcripts import (
            synth_transcripts,
        )

        tr = synth_transcripts(spark, args.turns)
    docs = transcripts_to_docs(tr)

    cat = Catalog(spark, args.warehouse)
    t0 = time.time()
    result = build_index(
        spark, cat, docs,
        IndexConfig(tokenizer_mode=args.tokenizer, hot_cache_k=args.hot_cache_k),
    )
    build_s = time.time() - t0

    eng = SearchEngine(spark, cat, tokenizer_mode=args.tokenizer)
    lat = []
    for terms, mode in [
        (["spark", "index"], "AND"),
        (["vector", "stream", "window"], "OR"),
        (["the", "score"], "AND"),
    ]:
        t0 = time.time()
        eng.search_terms(terms, mode, 10).collect()
        lat.append(round(time.time() - t0, 4))
    lat_sorted = sorted(lat)

    print(json.dumps({
        "n_docs": result.n_docs,
        "n_terms": result.n_terms,
        "n_blocks": result.n_blocks,
        "build_sec": round(build_s, 4),
        "docs_per_sec": round(result.n_docs / build_s, 1),
        "query_p50_sec": lat_sorted[len(lat_sorted) // 2],
        "query_sec": lat,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
