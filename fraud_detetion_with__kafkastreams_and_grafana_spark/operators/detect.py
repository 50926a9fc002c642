"""The reference's Kafka Streams topology, re-expressed as narrow DataFrame
transformations.

Reference topology (TransactionProcessor.java:27-54):
    stream(input) -> mapValues(JSON parse, null on error) -> filter(non-null)
    -> branch(amount > 10_000.0 strict, else) -> fraud branch: mapValues(to
    JSON) -> filter(non-null) -> peek(log) -> to(output)

Spark mapping: every stage is a narrow op (no shuffle), so the whole
topology runs as ONE stage over the source — the analog of Kafka Streams'
single sub-topology. Its physical plan is three operators: the source in a
codegen span, a ``Generate`` that evaluates ``from_json`` once per record
(``from_json`` has no codegen), then one codegen span for the drop filter,
the branch and the output projection. ``from_json`` returns a null struct
on corrupt input, matching the reference's null-on-parse-error + drop
contract exactly (TransactionProcessor.java:32-37).

The parse must stay one ``Generate``: Catalyst pushes a filter through a
``Project`` by substituting its aliases without weighing their cost, which
would copy ``from_json`` (and any projection under it) into the filter.

Scale: stateless and embarrassingly parallel — partition count = source
parallelism, no skew concern, no state store.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import TRANSACTION_DDL

# Reference threshold: strict > 10_000.0 (TransactionProcessor.java:15,39).
# The driver's `events.value` column plays `amount`; its range is ~[0, 500),
# so the engine parameterizes the threshold. 100.0 keeps the reference's
# ~10% fraud selectivity on the driver's value distribution.
FRAUD_THRESHOLD = 10_000.0
EVENTS_FRAUD_THRESHOLD = 100.0


def parse_wire(df: DataFrame, value_col: str = "value") -> DataFrame:
    """JSON wire string -> typed columns; corrupt payloads dropped.

    Mirrors R4+R5 (TransactionProcessor.java:29-37): parse error => null =>
    filtered out. A null struct inlines to an all-null row, so the one
    ``userId`` check drops both corrupt records and records without a user.
    Extra/unknown JSON fields are ignored by name-match, like Jackson POJO
    binding.
    """
    tx = df.select(F.inline(F.array(F.from_json(F.col(value_col), TRANSACTION_DDL))))
    return tx.filter(F.col("userId").isNotNull()).withColumn(
        "event_time", F.timestamp_seconds(F.col("timestamp"))
    )


def serialize_wire(df: DataFrame) -> DataFrame:
    """Typed columns -> (key, value) JSON wire pair, mirroring R7 + R2:
    key = userId (the Kafka message key, TransactionProducer.java:30),
    value = JSON object of the three fields."""
    return df.select(
        F.col("userId").alias("key"),
        F.to_json(F.struct("userId", "amount", "timestamp")).alias("value"),
    )


def fraud_predicate(amount: Column, threshold: float = FRAUD_THRESHOLD) -> Column:
    """STRICT greater-than: amount == threshold is NOT fraud
    (TransactionProcessor.java:39)."""
    return amount > F.lit(float(threshold))


def branch_fraud(
    df: DataFrame, amount_col: str = "amount", threshold: float = FRAUD_THRESHOLD
) -> tuple[DataFrame, DataFrame]:
    """First-match-wins 2-way branch (R6): (fraud, rest) with disjoint rows.

    Spark-first: two complementary filters over the same plan — Catalyst
    reuses the scan, and both branches stay in whole-stage codegen.
    """
    pred = fraud_predicate(F.col(amount_col), threshold)
    return df.filter(pred), df.filter(~pred)


def events_as_transactions(events: DataFrame) -> DataFrame:
    """Adapt the driver's `events` table to the reference's transaction
    shape: userId (formatted like the reference's `user_%03d`,
    TransactionProducer.java:47), amount, event_time."""
    return events.select(
        F.format_string("user_%03d", F.col("user_id").cast("int")).alias("userId"),
        F.col("value").alias("amount"),
        # Second precision: the reference stores event time at WritePrecision.S
        # (FraudAlertConsumer.java:67) / epoch-seconds int (TransactionProducer.java:49).
        F.date_trunc("second", F.col("ts")).cast("timestamp_ntz").alias("event_time"),
        F.col("event_id"),
        F.col("event_type"),
        F.col("props"),
    )


def observed_fraud_pipeline(
    df: DataFrame, threshold: float = FRAUD_THRESHOLD
):
    """R9's `peek` stage as Spark's first-class observation API: attach an
    `Observation` to the parsed stream and a second one to the fraud
    branch, so one pass yields the pipeline AND its monitoring counters
    (rows parsed, fraud rows, fraud amount) — the reference logged these
    per record (TransactionProcessor.java:46-48, the peek before `to`);
    `observe` aggregates them on the executors with ZERO extra scans or
    shuffles, which is the 100 TB way to count a branch.

    Returns (fraud_df, parsed_obs, fraud_obs); metric values materialize
    after the first action on fraud_df.
    """
    from pyspark.sql import Observation

    parsed_obs = Observation("parsed_metrics")
    fraud_obs = Observation("fraud_metrics")
    parsed = df.observe(parsed_obs, F.count(F.lit(1)).alias("n_parsed"))
    fraud = parsed.filter(fraud_predicate(F.col("amount"), threshold)).observe(
        fraud_obs,
        F.count(F.lit(1)).alias("n_fraud"),
        F.sum("amount").alias("fraud_amount"),
    )
    return fraud, parsed_obs, fraud_obs
