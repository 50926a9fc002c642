"""Oracle-differential tests for the dashboard analytics (SURVEY.md §2.2)
plus semantics pin-downs from FIXTURES.md §1."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
    branch_fraud,
    parse_wire,
)
from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import analytics

from conftest import SF_DIR


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = testing.duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(analytics.QUERIES))
def test_analytics_oracle_parity(spark, duck, sf_dir, name):
    res = testing.check_query(
        spark, duck, name, analytics.QUERIES[name], analytics.ORACLES.get(name), sf_dir
    )
    assert res.ok, res.detail


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"userId", "total_amount", "n_tx"}


def test_strict_threshold_boundary(spark):
    """amount == threshold is NOT fraud (strict >, TransactionProcessor.java:39)."""
    df = spark.createDataFrame(
        [Row(amount=10_000.0), Row(amount=10_000.0000001), Row(amount=9_999.99)]
    )
    fraud, rest = branch_fraud(df)
    assert [r.amount for r in fraud.collect()] == [10_000.0000001]
    assert fraud.count() + rest.count() == df.count()  # disjoint & complete


def test_malformed_json_dropped(spark):
    """Corrupt payloads are dropped, not errors (TransactionProcessor.java:32-37);
    unknown fields are ignored (Jackson name-binding, Transaction.java:18-31)."""
    rows = [
        Row(value='{"userId":"user_001","amount":10500.5,"timestamp":1737028306}'),
        Row(value='{"userId":'),  # malformed -> dropped
        Row(value="not json at all"),  # malformed -> dropped
        Row(value='{"userId":"user_002","amount":5.0,"timestamp":1737028307,"extra":1}'),
    ]
    out = parse_wire(spark.createDataFrame(rows)).collect()
    assert sorted(r.userId for r in out) == ["user_001", "user_002"]
    assert all(r.event_time is not None for r in out)


def test_parse_wire_drop_contract_edges(spark):
    """A record is kept iff it parses to an object with a non-null userId.
    A field that fails its type stays null in a kept record; an array,
    JSON null, an empty string and a SQL NULL are all dropped."""
    import datetime

    payloads = [
        '{"userId":"u1","amount":"x","timestamp":1}',  # type mismatch: kept, amount null
        '{"amount":5.0,"timestamp":2}',  # missing userId
        '{"userId":null,"amount":5.0,"timestamp":3}',
        "null",
        "",
        '[{"userId":"u2","amount":1.0,"timestamp":4}]',
        None,
        '{"userId":"u3","amount":2.0,"timestamp":5,"extra":{"a":1},"more":[1]}',
        '{"userId":"u4","amount":1e400,"timestamp":6}',  # overflows to inf
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    parsed = parse_wire(df)
    assert parsed.schema.simpleString() == (
        "struct<userId:string,amount:double,timestamp:bigint,event_time:timestamp>"
    )

    def at(s):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=s)

    rows = sorted(
        (r.userId, r.amount, r.timestamp, r.event_time)
        for r in parsed.withColumn(
            "event_time", F.col("event_time").cast("timestamp_ntz")
        ).collect()
    )
    assert rows == [
        ("u1", None, 1, at(1)),
        ("u3", 2.0, 5, at(5)),
        ("u4", float("inf"), 6, at(6)),
    ]


def test_branches_partition_input(spark, sf_dir):
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        EVENTS_FRAUD_THRESHOLD,
        events_as_transactions,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    tx = events_as_transactions(load_table(spark, SF_DIR, "events"))
    fraud, rest = branch_fraud(tx, threshold=EVENTS_FRAUD_THRESHOLD)
    n, nf, nr = tx.count(), fraud.count(), rest.count()
    assert n == nf + nr
    assert fraud.filter(F.col("amount") <= EVENTS_FRAUD_THRESHOLD).count() == 0


def test_observed_pipeline_metrics_match_direct_counts(spark, sf_dir):
    """R9 peek -> df.observe: the observation metrics collected during ONE
    pass over the fraud branch must equal independently-computed counts
    (no extra scan, no drift between the pipeline and its monitoring)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        EVENTS_FRAUD_THRESHOLD,
        events_as_transactions,
        observed_fraud_pipeline,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table

    tx = events_as_transactions(load_table(spark, sf_dir, "events"))
    fraud, parsed_obs, fraud_obs = observed_fraud_pipeline(
        tx, threshold=EVENTS_FRAUD_THRESHOLD
    )
    n_fraud_rows = fraud.count()  # the single action that fills both

    direct_total = tx.count()
    direct_fraud = tx.filter(tx.amount > EVENTS_FRAUD_THRESHOLD)
    direct_n = direct_fraud.count()
    direct_sum = direct_fraud.agg(F.sum("amount")).first()[0]

    assert parsed_obs.get["n_parsed"] == direct_total
    assert fraud_obs.get["n_fraud"] == direct_n == n_fraud_rows
    assert abs(fraud_obs.get["fraud_amount"] - direct_sum) < 1e-6
