"""Multi-format table IO beyond the reference's JSON/CSV raw zone.

Natively available in this build: parquet, orc, json-lines, csv.
Lakehouse table formats (delta, iceberg, hudi) need their connector
jars on the classpath — absent here, so they are stubbed behind a
capability check that raises a precise NotImplementedError instead of
a Py4J class-not-found at action time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from build_datawarehouse_demo_spark.sources.writers import parquet_writer

NATIVE_FORMATS = ("parquet", "orc", "json", "csv")
JAR_FORMATS = {
    "delta": "io.delta:delta-spark",
    "iceberg": "org.apache.iceberg:iceberg-spark-runtime",
    "hudi": "org.apache.hudi:hudi-spark-bundle",
}


def _require_jar_format(spark: SparkSession, fmt: str) -> None:
    if fmt not in JAR_FORMATS:
        raise ValueError(f"unknown format {fmt!r}; native: {NATIVE_FORMATS}, jar-backed: {tuple(JAR_FORMATS)}")
    probe_class = {
        "delta": "org.apache.spark.sql.delta.sources.DeltaDataSource",
        "iceberg": "org.apache.iceberg.spark.source.IcebergSource",
        "hudi": "org.apache.hudi.DefaultSource",
    }[fmt]
    try:
        spark._jvm.java.lang.Class.forName(probe_class)
    except Exception as exc:
        raise NotImplementedError(
            f"{fmt} requires the {JAR_FORMATS[fmt]} jar on the Spark classpath; "
            "not bundled in this build"
        ) from exc


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """Format-dispatching scan. Native formats read directly; jar-backed
    formats fail fast with the jar coordinate if the connector is
    missing."""
    if fmt in JAR_FORMATS:
        _require_jar_format(spark, fmt)
    elif fmt not in NATIVE_FORMATS:
        raise ValueError(f"unknown format {fmt!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options: str) -> None:
    """Format-dispatching sink, same capability rules as read_table."""
    if fmt in JAR_FORMATS:
        _require_jar_format(df.sparkSession, fmt)
    elif fmt not in NATIVE_FORMATS:
        raise ValueError(f"unknown format {fmt!r}")
    writer = parquet_writer(df) if fmt == "parquet" else df.write.format(fmt)
    writer = writer.mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)
