"""The reference's Kafka Streams topology as a Structured Streaming query
(R3-R11): wire-format parse -> null-drop -> strict-> branch -> serialize ->
sink, plus the consumer-side sink table (R12-R14).

The SAME column transformations from operators/detect run in both batch
and streaming — batch-stream parity is by construction, tested in
tests/test_streaming.py. Kafka source/sink wiring is included but gated
(no broker in this environment); the memory/parquet/console paths run
everywhere.

Sink-table schema mirrors the reference's InfluxDB point (R14,
FraudAlertConsumer.java:64-67): measurement 'fraud' ≅ table, tag userId,
field amount, second-precision event time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.detect import FRAUD_THRESHOLD, fraud_predicate, parse_wire, serialize_wire


def wire_stream_from_kafka(
    spark: SparkSession, brokers: str, topic: str = "transactions-input"
) -> DataFrame:
    """Kafka source (R3): requires the spark-sql-kafka package + a broker;
    value comes back as the JSON wire string."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")  # R12 auto.offset.reset=earliest
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def fraud_topology(wire: DataFrame, threshold: float = FRAUD_THRESHOLD) -> DataFrame:
    """R4-R8: parse (null-on-corrupt -> drop) then the strict-> fraud
    branch. Works identically on bounded and unbounded DataFrames —
    all narrow ops, one stage, no state. The parse is a single
    ``Generate`` (see operators/detect), and the branch filter fuses into
    the codegen span above it."""
    tx = parse_wire(wire)
    return tx.filter(fraud_predicate(F.col("amount"), threshold))


def alerts_as_wire(fraud: DataFrame) -> DataFrame:
    """R7+R10: fraud alerts back to keyed JSON wire records."""
    return serialize_wire(fraud)


def alerts_as_points(fraud: DataFrame) -> DataFrame:
    """R14: the time-series point shape the consumer writes to InfluxDB
    (event_time at second precision, tag userId, field amount)."""
    return fraud.select(
        F.timestamp_seconds(F.col("timestamp")).alias("event_time"),
        F.col("userId"),
        F.col("amount"),
    )


def start_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Memory sink for tests/demos (snapshot queryable as a view)."""
    return (
        df.writeStream.format("memory").queryName(name).outputMode(output_mode).start()
    )


def start_to_parquet(df: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
    """Parquet sink via exactly-once file commit — the engine's stand-in
    for the reference's InfluxDB sink table."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def start_to_kafka(
    df: DataFrame, brokers: str, topic: str, checkpoint: str
) -> StreamingQuery:
    """Kafka sink (R10): keyed (key, value) output — gated on a broker."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )
