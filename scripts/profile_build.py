#!/usr/bin/env python
"""Phase-level build profile in a FRESH JVM:
python scripts/profile_build.py <cpus> [corpus]"""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

cpus = int(sys.argv[1])
corpus = sys.argv[2] if len(sys.argv) > 2 else "/tmp/osse-scale-corpus-4000000"

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.functions.hashing import pick_block_bits
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    build_postings,
    doc_length_col,
    term_stats_from_postings,
    transcripts_to_docs,
)
from open_source_search_engine_spark.session import get_spark
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

spark = get_spark(f"prof{cpus}", master=f"local[{cpus}]", shuffle_partitions=max(8, cpus))
spark.sparkContext.setLogLevel("ERROR")
wh = f"/tmp/osse-prof3-{cpus}"
shutil.rmtree(wh, ignore_errors=True)
cat = Catalog(spark, wh)
cfg = IndexConfig(tokenizer_mode="ascii")

# warmup
wcat = Catalog(spark, wh + "-warm")
build_index(spark, wcat, transcripts_to_docs(synth_transcripts(spark, 5000, partitions=cpus)), cfg)

docs = transcripts_to_docs(spark.read.parquet(corpus))
par = spark.sparkContext.defaultParallelism
if docs.rdd.getNumPartitions() < par:
    docs = docs.repartition(par * 2)
t = {}
t0 = time.time(); docs = docs.withColumn("dl", doc_length_col(cfg.tokenizer_mode)(F.col("text"))); cat.write_table(docs, "documents"); t["write_docs"] = time.time() - t0
docs = cat.read_table("documents")
t0 = time.time(); docs.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).count(); t["audit"] = time.time() - t0
t0 = time.time(); row = docs.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).collect()[0]; t["stats"] = time.time() - t0
t0 = time.time()
postings = build_postings(docs, cfg.target_reduce_docs, cfg.tokenizer_mode, cfg.store_positions)
cat.write_table(postings.withColumn("seg_seq", F.lit(0).cast("long")), "postings")
t["postings"] = time.time() - t0
t0 = time.time(); p = cat.read_table("postings"); cat.write_table(term_stats_from_postings(p), "term_stats"); t["term_stats"] = time.time() - t0
t0 = time.time(); cat.read_table("term_stats").count(); p.count(); t["counts"] = time.time() - t0
print("PROFILE", cpus, {k: round(v, 1) for k, v in t.items()}, "total", round(sum(t.values()), 1))
spark.stop()
