"""JSON / JSON-lines import — the feeder payload format.

Reference: contrib feeders (polygon, alpaca, gdaxfeeder) consume JSON
API payloads and append bars/ticks to buckets; cmd/connect also loads
newline-delimited files.  Spark-native: `spark.read.json` with an
explicit schema (schema inference is a full extra pass at 100 TB —
always pass one in production), timestamp normalization, then the
same Catalog append path as CSV.  For continuous feeds the identical
reader runs as `readStream.json` and lands through
streaming/writer.append_sink (one manifest commit per micro-batch,
exactly once by batch id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_json(
    spark: SparkSession,
    path: str,
    schema=None,
    ts_col: str = "ts",
    ts_format: str | None = None,
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    if ts_format is not None:
        df = df.withColumn(ts_col, F.to_timestamp(F.col(ts_col), ts_format))
    elif ts_col in df.columns and dict(df.dtypes).get(ts_col) in ("string",):
        df = df.withColumn(ts_col, F.to_timestamp(F.col(ts_col)))
    return df


def import_json_to_bucket(
    spark: SparkSession,
    json_path: str,
    catalog,
    key: str,
    schema=None,
    ts_col: str = "ts",
    ts_format: str | None = None,
) -> int:
    """Load JSON-lines into a TBK bucket; returns rows written."""
    df = read_json(spark, json_path, schema=schema, ts_col=ts_col, ts_format=ts_format)
    n = df.count()
    catalog.write(key, df)
    return n
