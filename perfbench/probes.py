"""Isolation probes for the traced run.

The stream topology fuses into one codegen stage, so no Spark report splits
its time by layer. Instead each layer's public function runs alone over one
fixed, pre-materialized batch to the ``noop`` sink; its busy time is that
run minus a bare scan of the same batch (medians of PROBE_REPS).
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import detect
from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming import generator

from streams import T0, corrupt

PROBE_ROWS = 100_000
PROBE_REPS = 3


def _noop_s(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _busy_ms(spark, path: str, layer) -> float:
    def scan():
        return spark.read.parquet(path)

    _noop_s(layer(scan()))  # compile once before timing
    bare, full = [], []
    for _ in range(PROBE_REPS):
        bare.append(_noop_s(scan()))
        full.append(_noop_s(layer(scan())))
    return max(statistics.median(full) - statistics.median(bare), 0.0) * 1000.0


def run(spark, work, tracer, seed: int) -> dict:
    raw_p, wire_p, tx_p = (work.sub(f"probe_{n}") for n in ("raw", "wire", "tx"))
    with tracer.span("probe.materialize"):
        raw = spark.range(PROBE_ROWS).select(
            F.timestamp_seconds(F.lit(T0) + F.col("id") / 1000).alias("timestamp"),
            F.col("id").alias("value"),
        )
        raw.write.parquet(raw_p)
        wire = corrupt(detect.serialize_wire(generator.transaction_columns(spark.read.parquet(raw_p), seed)), seed)
        wire.write.parquet(wire_p)
        detect.parse_wire(spark.read.parquet(wire_p)).write.parquet(tx_p)
    out = {}
    with tracer.span("probe.generator"):
        out["gen.busy_ms"] = _busy_ms(spark, raw_p, lambda df: generator.transaction_columns(df, seed))
    with tracer.span("probe.parse"):
        out["parse.busy_ms"] = _busy_ms(spark, wire_p, detect.parse_wire)
    with tracer.span("probe.branch"):
        out["branch.busy_ms"] = _busy_ms(spark, tx_p, lambda df: detect.branch_fraud(df)[0])
    return out
