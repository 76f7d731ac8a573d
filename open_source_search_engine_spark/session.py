"""SparkSession factory with the engine's tuned configuration.

Single place where scale knobs live so tests, bench, and spark-submit entry
points get identical behavior. Designed for a multi-executor cluster (AQE,
skew-join handling, Arrow batches); tested on local[N].
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

DEFAULT_SHUFFLE_PARTITIONS = 32


def iceberg_jar() -> str | None:
    """Locate an iceberg-spark-runtime jar if one is installed (none is baked
    into this container; the catalog layer falls back to the snapshot-parquet
    warehouse with the same commit semantics -- see catalog.py)."""
    for pattern in (
        os.environ.get("ICEBERG_JAR", ""),
        "/opt/spark/jars/iceberg-spark-runtime*.jar",
        os.path.expanduser("~/jars/iceberg-spark-runtime*.jar"),
    ):
        if not pattern:
            continue
        hits = glob.glob(pattern)
        if hits:
            return hits[0]
    return None


def get_spark(
    app_name: str = "osse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("OSSE_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (the built-in analog of
        # the reference's docid-range splitting, Msg39.cpp:421-474)
        # deterministic time semantics: NTZ<->instant casts use UTC so
        # epoch arithmetic agrees with DuckDB's naive-as-UTC interpretation
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep post-shuffle parallelism >= core count at small data sizes
        # (the 64m default coalesces a GB-scale build to ~8 tasks; at PB
        # scale raise via env -- partitions are sized by bytes either way)
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("OSSE_ADVISORY_PARTITION_BYTES", "16m"),
        )
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("OSSE_MAX_PARTITION_BYTES", "32m"),
        )
        # Arrow everywhere: the pandas UDF hot paths depend on it
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: keep row-group pruning + pushdown on
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # posting-block rows carry wide list cells (doc_ids/tfs/dls/
        # positions, tens of KB each); the 4096-row default columnar
        # batch then needs ~200 MB of contiguous heap PER reader and
        # OOMs a 10M-turn scan.
        # 512 rows keeps a batch ~25 MB regardless of index size -- the
        # spill-aware sizing rule the 100 TB design depends on
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("OSSE_PARQUET_BATCH_ROWS", "512"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("OSSE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # pseudo-conf, VALUE-sensitive: only 'false' disables shipping (key
    # presence alone used to disable it, so opting IN with 'true' did the
    # opposite of what the caller asked); popped so it never reaches Spark
    extra_conf = dict(extra_conf) if extra_conf else {}
    ship_package = (
        str(extra_conf.pop("osse.ship_package", "true")).lower() != "false"
    )
    jar = iceberg_jar()
    if jar:
        wh = warehouse or "/tmp/osse-iceberg-warehouse"
        b = (
            b.config("spark.jars", jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.osse", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.osse.type", "hadoop")
            .config("spark.sql.catalog.osse.warehouse", wh)
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if ship_package:
        _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the --py-files equivalent, done
    programmatically so any entry point works from any cwd)."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    if getattr(spark, "_osse_shipped", False):
        return
    tmp = tempfile.mkdtemp(prefix="osse-pyfiles-")
    zip_base = os.path.join(tmp, pkg_name)
    staging = os.path.join(tmp, "stage", pkg_name)
    shutil.copytree(pkg_dir, staging, ignore=shutil.ignore_patterns("__pycache__"))
    archive = shutil.make_archive(zip_base, "zip", os.path.join(tmp, "stage"))
    spark.sparkContext.addPyFile(archive)
    spark._osse_shipped = True


@lru_cache(maxsize=64)
def _ddl_schema(ddl: str):
    """A DDL schema string parsed once: parsing is a JVM call."""
    return _parse_datatype_string(ddl)


def _local_frame(spark: SparkSession, schema, rows=()) -> DataFrame:
    """Driver-held ``rows`` (a collected page, a cache hit, a few plan
    constants; none for an empty answer) as a frame that plans as a
    LocalTableScan. The rows ship as an Arrow table built against the
    Spark ``schema`` (a DDL string or StructType), so nulls and int widths
    survive and no Python task runs: ``createDataFrame(<list of rows>)``
    would be a Python RDD, paying a Python task per partition. An empty
    frame launches no task at all, even under a join."""
    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
