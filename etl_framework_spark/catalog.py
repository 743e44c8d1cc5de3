"""Testdata catalog: table loading + temp-view registration.

Tables per FIXTURES.md / TESTDATA.md (driver-generated parquet,
read-only). SURVEY.md §1.1: table = DataFrame registered as a temp view
so steps can use the DataFrame API or SQL interchangeably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

from etl_framework_spark.sources.readers import read_parquet

TABLES = [
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
]

# Small dimensions worth broadcasting in any join (SURVEY.md §4: join
# strategy selection; these stay tiny at every scale factor).
BROADCAST_DIMS = {"region", "nation"}


def events(spark: SparkSession, sf_dir: str, stream: bool = False) -> DataFrame:
    """The events table, batch or (``stream``) as a parquet file stream.

    events.ts physical type varies by testdata generation:
    TIMESTAMP(NANOS) — which Spark rejects (PARQUET_TYPE_ILLEGAL)
    unless read as epoch-long and integer-divided to µs (a double cast
    would lose precision above 2^53 ns) — or plain µs, which reads as a
    timestamp directly. SURVEY.md §5.3 rule 4. The stream reads with
    the batch read's schema, except that a µs ts streams as TIMESTAMP,
    not the TIMESTAMP_NTZ the batch read infers: watermarks need it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    if stream:
        schema = StructType([
            StructField(f.name, TimestampType(), f.nullable)
            if f.name == "ts" and isinstance(f.dataType, TimestampNTZType) else f
            for f in df.schema
        ])
        # The file stream source requires a directory or glob (a bare
        # file path fails with "Option 'basePath' must be a directory").
        df = spark.readStream.schema(schema).format("parquet").load(f"{sf_dir}/events.*")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views (idempotent)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
