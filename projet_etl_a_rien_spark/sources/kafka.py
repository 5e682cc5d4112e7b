"""Kafka source wrapper — reference S1/S2 semantics.

Mirrors the reference's exact reader configuration
(``/root/reference/spark_airports_final.py:19-24`` batch,
``spark_kafka_direct.py:21-27`` stream) and its NiFi publish contract
(key = airport id, ``tp.xml:875``) as ``to_kafka_records``.

Sandbox note: the spark-sql-kafka connector jar and a broker are not
available here, so the source raises a clear RuntimeError at call time
if the data source is missing. In production add
``spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``
(replacing the reference's hand-managed jar dir,
``spark_airports_final.py:9-12``; SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MISSING = (
    "the Kafka data source is not on the classpath; add "
    "spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
)


def _raise_if_classpath_error(e: Exception) -> None:
    """Rewrap ONLY the missing-connector failure; let real connectivity /
    auth / topic errors propagate unmodified (they would otherwise be
    misdiagnosed as 'jar absent'). Streaming reads mostly fail lazily at
    query start, so this guard fires on the classpath lookup itself."""
    msg = str(e)
    if "Failed to find data source" in msg or "ClassNotFoundException" in msg:
        raise RuntimeError(_MISSING) from e
    raise e


def _reader(spark: SparkSession, streaming: bool):
    return spark.readStream if streaming else spark.read


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    streaming: bool = False,
) -> DataFrame:
    """Kafka scan with the 7-column wire schema (key/value binary + metadata).

    Batch ≡ ref spark_airports_final.py:19-24; streaming ≡
    spark_kafka_direct.py:21-27 (same options, readStream instead).
    """
    try:
        return (
            _reader(spark, streaming)
            .format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # connector jar absent in this sandbox
        _raise_if_classpath_error(e)


def to_kafka_records(df: DataFrame, key_col: str) -> DataFrame:
    """Serialize rows to (key, value-JSON) — the NiFi AttributesToJSON +
    key=${id} publish contract (tp.xml:875,1281)."""
    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.select(
        F.col(key_col).cast("string").alias("key"), payload.alias("value")
    )

