"""Parquet table sources for the driver fixture schema (FIXTURES.md §B).

The reference's only source is whole local text files
(/root/reference/src/mr/worker.go:60-70); our primary source is
columnar Parquet so Catalyst gets predicate pushdown + column pruning
for free. Whole-text-file ingestion lives in ``sources.text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Every table the driver generates under /root/testdata/sf*/ .
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables that are the SAME size at every SF (region 5 rows, nation 25)
#: — the only ones a forced `F.broadcast` hint is safe on. customer/
#: supplier/part scale linearly with SF (measured across the fixtures),
#: so their join strategy is left to size stats + AQE.
BROADCAST_TABLES = frozenset({"region", "nation"})


#: (path, file versions) -> the schema Spark inferred for them.
#: File metadata keyed by file version, not a derived table, so
#: ``__spark_entry__.reset_derived_caches`` leaves it alone.
_PARQUET_SCHEMAS: dict[tuple, StructType] = {}


def _file_versions(spark: SparkSession, path: str) -> tuple | None:
    """(path, length, mtime) of every file under ``path``, listed through
    Hadoop's FileSystem so remote stores (s3://, hdfs://) work too; None
    for a missing path (Spark's own read reports it) or without a JVM
    handle (Spark Connect)."""
    jvm = getattr(spark, "_jvm", None)
    jsc = getattr(spark, "_jsc", None)
    if jvm is None or jsc is None:
        return None
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    files = fs.listFiles(hpath, True)
    versions = []
    while files.hasNext():
        st = files.next()
        versions.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(versions))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the Parquet data at ``path``.

    Inference runs a Spark job; the result is kept per file version (path,
    length and modification time of every file), so a later read of
    unchanged files passes it to ``spark.read.schema`` and runs no job,
    while a rewrite is inferred afresh. A rewrite that keeps every file's
    length and modification time goes unseen, as it does for any
    listing-based cache.
    """
    versions = _file_versions(spark, path)
    if versions is None:
        return spark.read.parquet(path).schema
    key = (path, versions)
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is None:
        schema = _PARQUET_SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → pushdown/pruning apply.

    The driver regenerates the fixtures between rounds and the physical
    timestamp layout has varied: events.ts has been parquet
    TIMESTAMP(NANOS) (which Spark's vectorized reader refuses,
    [PARQUET_TYPE_ILLEGAL] — read as int64 nanos and truncate to micros,
    matching DuckDB's ns→us truncation) and is now naive timestamp[us],
    which Spark reads as TIMESTAMP_NTZ. Normalize every layout to the
    session-TZ TIMESTAMP type (session TZ is pinned UTC, so the rendered
    instants are identical) so operators can rely on one ts type —
    `unix_micros` & friends reject NTZ inputs.

    The schema comes from ``parquet_schema``, so only the first read of a
    file version pays Spark's schema-inference job.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    for col, dtype in df.dtypes:
        if name == "events" and col == "ts" and dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register the fixture tables as temp views for `spark.sql` use."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
