"""The two open-loop stream workloads: alerts_stream (the reference topology)
and window_stream (the AmountHistogram panel, with late and out-of-order
events).

Each run has two phases, each its own streaming query on its own checkpoint:

- fixed: the rate source at FIXED_RATE rows/s, below capacity. Latency,
  backlog and CPU come from here.
- saturated: the rate-micro-batch source with BATCH_ROWS rows per batch, so
  the next batch is always ready and the engine never idles. Capacity comes
  from here.

Every committed batch's output is compared with a batch recomputation of the
same public functions over the same rate values.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from datetime import datetime

import pandas as pd

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.utils import StreamingQueryException

from fraud_detetion_with__kafkastreams_and_grafana_spark.operators import detect
from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming import (
    generator,
    topology,
    windows,
)

import stats
from common import cpu_seconds, jvm_pid, peak_rss_mb, sql_node_metric, stage_totals

# 1000 / rate is exact in binary for both rates, so every row's creation
# time is an exact millisecond and the latency arithmetic is exact.
FIXED_RATE = 16_000
# window_stream refreshes its panel on a 2 s processing-time trigger. Run as
# fast as possible, each ~0.9 s data batch is followed by a ~0.4 s no-data
# batch that evicts the window the watermark just closed, so a second's work
# overruns the second and batches flip between one and two seconds of input.
PANEL_TRIGGER_S = 2
BATCH_ROWS = 64_000
MALFORMED_PCT = 1
# window_stream's event time is a function of the rate value, not of the
# wall clock: EVENT_SPEED event seconds pass per wall second, so a short run
# covers many 10 s windows and passes the 30 s watermark several times.
EVENT_SPEED = 10
T0 = 1_700_000_000  # event-time origin, epoch seconds, a multiple of the window
WINDOW_S = 10
WATERMARK_S = 30
OUT_OF_ORDER_PCT = 2
LATE_EVERY = 1000
STOP_MARK = "perfbench: phase over"


# --- inputs ------------------------------------------------------------------


def corrupt(wire, seed: int):
    """Truncate a fixed seeded share of wire records to malformed JSON. The
    choice hashes the record itself, so stream and batch pick the same rows."""
    hit = F.pmod(F.xxhash64("value", F.lit(seed + 101)), F.lit(100)) < MALFORMED_PCT
    return wire.withColumn("value", F.when(hit, F.substring("value", 1, 12)).otherwise(F.col("value")))


def event_seconds(value, seed: int, late: bool):
    """window_stream's event time for rate row ``value`` (epoch seconds).

    On time: T0 + value / (rows per event second). Out of order (a seeded
    OUT_OF_ORDER_PCT share): 1-9 s earlier, under a third of the watermark,
    so always kept. Too late (every LATE_EVERY-th row once event time has
    passed 2x the watermark, fixed phase only): each in its own window at
    least 2x the watermark in the past, so always dropped. One window each
    keeps partial aggregation from merging two of them, so Spark's
    numRowsDroppedByWatermark counts events.
    """
    per_s = FIXED_RATE // EVENT_SPEED
    on_time = F.lit(T0) + F.floor(value / F.lit(per_s))
    delay = F.lit(1) + F.pmod(F.xxhash64(value, F.lit(seed + 202)), F.lit(9))
    ooo = F.pmod(F.xxhash64(value, F.lit(seed + 201)), F.lit(100)) < OUT_OF_ORDER_PCT
    t = F.when(ooo, on_time - delay).otherwise(on_time)
    if late:
        is_late = (F.pmod(value, F.lit(LATE_EVERY)) == seed % LATE_EVERY) & (
            value >= 2 * WATERMARK_S * per_s
        )
        t = F.when(
            is_late, F.lit(T0 - 2 * WATERMARK_S) - F.floor(value / LATE_EVERY) * WINDOW_S
        ).otherwise(t)
    return t.cast("long")


class Workload:
    """One stream workload: how its rows are generated, transformed and
    checked. ``tracer`` wraps every call into the engine's layers."""

    def __init__(self, name: str, seed: int, tracer):
        self.name = name
        self.seed = seed
        self.tracer = tracer
        self.windowed = name == "window_stream"

    def rate_frame(self, raw, late: bool):
        """(timestamp, value) rows as the rate sources give them; window_stream
        replaces the timestamp with its event time."""
        if not self.windowed:
            return raw
        ts = F.timestamp_seconds(event_seconds(F.col("value"), self.seed, late))
        return raw.withColumn("timestamp", ts)

    def wire(self, raw, late: bool):
        t = self.tracer
        with t.span("generator.transaction_columns"):
            tx = generator.transaction_columns(self.rate_frame(raw, late), self.seed)
        with t.span("detect.serialize_wire"):
            return corrupt(detect.serialize_wire(tx), self.seed)

    def output(self, wire):
        t = self.tracer
        if self.windowed:
            with t.span("detect.parse_wire"):
                tx = detect.parse_wire(wire)
            with t.span("windows.windowed_amounts"):
                return windows.windowed_amounts(tx)
        with t.span("topology.fraud_topology"):
            fraud = topology.fraud_topology(wire)
        with t.span("topology.alerts_as_points"):
            return topology.alerts_as_points(fraud)

    @property
    def output_mode(self) -> str:
        return "update" if self.windowed else "append"


# --- one phase -------------------------------------------------------------


class Phase:
    """Runs one streaming query until ``deadline``, recording for every batch
    the wall time its foreachBatch write returned."""

    def __init__(self, spark, wl: Workload, root: str, kind: str, rate: int):
        """``kind``: warmup or fixed (the rate source at ``rate`` rows/s), or
        saturated (rate-micro-batch, ``rate`` rows per batch)."""
        self.spark, self.wl, self.kind, self.rate = spark, wl, kind, rate
        self.out = f"{root}/out"
        self.checkpoint = f"{root}/checkpoint"
        self.commits: dict[int, float] = {}
        self.panel: dict[int, list[tuple]] = {}
        self.cpu: dict[int, float] = {}
        self.deadline = float("inf")
        self.error: str | None = None
        self._committed = threading.Event()

    def _sink(self, df, batch_id: int) -> None:
        # Ending the query by raising at the start of a batch stops it
        # between batches: no task is running, so none is interrupted.
        if time.time() >= self.deadline:
            raise RuntimeError(STOP_MARK)
        with self.wl.tracer.span("sink.write"):
            if self.wl.windowed:
                # The panel's rows go to the dashboard process.
                self.panel[batch_id] = [
                    (r.window_start.timestamp(), r.userId, r.total_amount, r.n_tx)
                    for r in df.collect()
                ]
            else:
                df.write.mode("overwrite").parquet(f"{self.out}/batch={batch_id}")
        self.commits[batch_id] = time.time() * 1000.0
        self.cpu[batch_id] = cpu_seconds()
        self._committed.set()

    def start(self):
        if self.kind != "saturated":
            raw = self.spark.readStream.format("rate").option("rowsPerSecond", self.rate).load()
        else:
            raw = (
                self.spark.readStream.format("rate-micro-batch")
                .option("rowsPerBatch", self.rate)
                .option("advanceMillisPerBatch", 1000)
                .option("startTimestamp", T0 * 1000)
                .load()
            )
        out = self.wl.output(self.wl.wire(raw, late=self.kind != "saturated"))
        writer = (
            out.writeStream.foreachBatch(self._sink)
            .outputMode(self.wl.output_mode)
            .option("checkpointLocation", self.checkpoint)
        )
        if self.kind == "fixed" and self.wl.windowed:
            writer = writer.trigger(processingTime=f"{PANEL_TRIGGER_S} seconds")
            # Triggers fire on multiples of the interval since the epoch.
            # Starting just after one creates the rate source early in its
            # interval on every run, so each trigger finds the same share of
            # whole seconds ready and latency does not depend on the phase.
            time.sleep(PANEL_TRIGGER_S - time.time() % PANEL_TRIGGER_S)
        self.query = writer.start()
        return self

    def wait_first_commit(self, timeout: float = 120.0) -> None:
        """Block until a batch with input rows has been written."""
        end = time.time() + timeout
        while time.time() < end:
            self._committed.wait(0.05)
            self._committed.clear()
            if any(p["numInputRows"] > 0 for p in self.progress() if p["batchId"] in self.commits):
                return
            if self.query.exception() is not None:
                break
        raise RuntimeError(f"{self.wl.name}: no batch committed within {timeout} s")

    def finish(self, deadline: float, timeout: float = 120.0) -> None:
        self.deadline = deadline
        try:
            self.query.awaitTermination(max(deadline - time.time(), 0) + timeout)
        except StreamingQueryException as e:
            if STOP_MARK not in str(e):
                self.error = str(e)[:500]
        if self.query.isActive:
            self.query.stop()
            self.error = self.error or "query did not reach its deadline batch"

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]

    def creation_ms(self) -> int:
        """The rate source's start time, as it stores it in the checkpoint."""
        with open(f"{self.checkpoint}/sources/0/0") as f:
            return int(f.read().split("\n")[1])

    def batches(self) -> list[dict]:
        """Committed batches with their progress, in order, as a contiguous
        prefix (a batch written but stopped before its progress is dropped)."""
        out = []
        for p in sorted(self.progress(), key=lambda p: p["batchId"]):
            if p["batchId"] not in self.commits:
                break
            src = p["sources"][0]
            p["start"], p["end"] = _offset(src["startOffset"]), _offset(src["endOffset"])
            p["commit_ms"] = self.commits[p["batchId"]]
            out.append(p)
        return out


def _offset(o) -> int:
    """Rate offsets are whole seconds; rate-micro-batch offsets are rows."""
    if o is None:
        return 0
    o = json.loads(o) if isinstance(o, str) else o
    return int(o["offset"]) if isinstance(o, dict) else int(o)


# --- checks ----------------------------------------------------------------


def recompute(spark, wl: Workload, phase: Phase, v_end: int):
    """The same public functions over the same rate values, as a batch job."""
    v = F.col("id")
    if phase.kind == "fixed":
        creation = phase.creation_ms()
        ms = F.lit(creation) + F.floor((v * 1000 + phase.rate // 2) / phase.rate)
    else:
        # rate-micro-batch stamps every row of batch i with T0 + i seconds.
        ms = F.lit(T0 * 1000) + F.floor(v / phase.rate) * 1000
    raw = spark.range(v_end).select(
        F.timestamp_millis(ms.cast("long")).alias("timestamp"), v.alias("value")
    )
    return wl.wire(raw, late=phase.kind == "fixed")


def check_phase(spark, wl: Workload, phase: Phase, batches: list[dict]) -> dict:
    """Compare the phase's committed output with the batch recomputation.
    Returns counts; ``ok`` is False on any mismatch."""
    data = [b for b in batches if b["numInputRows"] > 0]
    if len(data) < 3:
        return {"ok": False, "detail": f"{len(data)} batches with data, too few to check"}
    v_end = data[-1]["end"] * (phase.rate if phase.kind == "fixed" else 1)
    # Observations count the injected malformed records, the parsed rows and
    # the too-late events on the way to the expected output.
    wire_obs, parsed_obs = Observation("wire"), Observation("parsed")
    wire = recompute(spark, wl, phase, v_end).observe(
        wire_obs, F.sum((F.length("value") == 12).cast("long")).alias("injected")
    )
    parsed = detect.parse_wire(wire).observe(
        parsed_obs,
        F.count(F.lit(1)).alias("parsed"),
        F.sum((F.col("timestamp") < T0 - WATERMARK_S).cast("long")).alias("late"),
    )
    if wl.windowed:
        got = pd.DataFrame(
            [(*r, b["batchId"]) for b in batches for r in phase.panel[b["batchId"]]],
            columns=["ws", "userId", "total_amount", "n_tx", "batch"],
        )
        res = _compare_windows(parsed, got, batches)
    else:
        # fraud_topology parses inside, so the parsed rows are counted by a
        # pass of their own.
        parsed.count()
        paths = [f"{phase.out}/batch={b['batchId']}" for b in batches]
        got = spark.read.parquet(*paths)
        res = _compare_alerts(recompute(spark, wl, phase, v_end), got)
    injected = wire_obs.get["injected"]
    n_parsed = parsed_obs.get["parsed"]
    res.update(rows_in=v_end, malformed=v_end - n_parsed, injected_malformed=injected)
    res["ok"] = res["ok"] and v_end - n_parsed == injected
    if wl.windowed:
        late = parsed_obs.get["late"]
        res["late_injected"] = late
        res["ok"] = res["ok"] and res["late_dropped"] == late
    return res


def _compare_windows(parsed, got, batches: list[dict]) -> dict:
    """Windows the final watermark has closed hold all their events, and the
    last update written for each is its final value."""
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0) for b in batches for op in b.get("stateOperators", [])
    )
    wm = batches[-1]["eventTime"].get("watermark")
    wm_s = datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp() if wm else 0
    expect = (
        windows.windowed_amounts(parsed.filter(F.col("timestamp") >= T0 - WATERMARK_S))
        .select(F.unix_timestamp("window_start").alias("ws"), "userId", "total_amount", "n_tx")
        .filter(F.col("ws") + WINDOW_S <= wm_s)
        .toPandas()
    )
    final = (
        got[got["ws"] + WINDOW_S <= wm_s]
        .sort_values("batch")
        .drop_duplicates(["ws", "userId"], keep="last")
    )
    cmp = expect.merge(final, on=["ws", "userId"], how="outer", suffixes=("_e", "_g"))
    bad = int(
        (
            cmp["n_tx_e"].isna() | cmp["n_tx_g"].isna() | (cmp["n_tx_e"] != cmp["n_tx_g"])
            | ((cmp["total_amount_e"] - cmp["total_amount_g"]).abs()
               > 1e-9 * cmp["total_amount_e"].abs())
        ).sum()
    )
    return {"windows": len(expect), "bad_windows": bad, "late_dropped": dropped,
            "ok": bad == 0 and len(expect) > 0}


def _compare_alerts(wire, got) -> dict:
    """Multiset equality by row count and the sum of row hashes; the row
    level difference is only computed when they disagree."""
    expect = topology.alerts_as_points(topology.fraud_topology(wire))
    got = got.select(*expect.columns)
    n_e, h_e = _count_and_hash(expect)
    n_g, h_g = _count_and_hash(got)
    res = {"fraud": n_e, "written": n_g, "same": (n_e, h_e) == (n_g, h_g)}
    if not res["same"]:
        res.update(extra=got.exceptAll(expect).count(), missing=expect.exceptAll(got).count())
    res["ok"] = res["same"] and n_e > 0
    return res


def _count_and_hash(df) -> tuple[int, int]:
    row = df.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).first()
    return int(row[0]), int(row[1] or 0)


# --- the workload ----------------------------------------------------------


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def run(spark, work, tracer, name: str, seed: int, seconds: float, rest=None) -> dict:
    """Warm up, run the fixed and saturated phases, check both.

    Returns the end-to-end metrics, per-layer metrics, attempted/failed
    counts and the check details.
    """
    wl = Workload(name, seed, tracer)
    ids = itertools.count()

    def phase(kind: str, rate: int) -> Phase:
        return Phase(spark, wl, work.sub(f"{kind}{next(ids)}"), kind, rate)

    # Untimed warm-up: start the fixed-rate query until it has written one
    # batch with data, three times. The first round is cold. The rounds run
    # without the panel trigger, which only paces batches.
    warm = []
    with tracer.span("session.warmup"):
        for _ in range(3):
            t0 = time.time()
            p = phase("warmup", FIXED_RATE).start()
            p.wait_first_commit()
            p.finish(time.time())
            warm.append(time.time() - t0)

    fixed_s = seconds * 0.6
    sat_s = seconds - fixed_s
    stage0 = rest.max_stage_id() if rest else -1
    sql0 = rest.max_sql_id() if rest else -1
    fixed_stages = fixed_sql = None

    with tracer.span("engine.fixed_phase"):
        fixed = phase("fixed", FIXED_RATE).start()
        fixed.finish(time.time() + fixed_s)
    if rest:
        fixed_stages = rest.stages_after(stage0)
        fixed_sql = rest.sql_executions_after(sql0)
    with tracer.span("engine.saturated_phase"):
        sat = phase("saturated", BATCH_ROWS).start()
        sat.finish(time.time() + sat_s)

    fb, sb = fixed.batches(), sat.batches()
    rss = peak_rss_mb(jvm_pid())
    t_check = time.time()
    with tracer.span("check.stream"):
        checks = {"fixed": check_phase(spark, wl, fixed, fb), "saturated": check_phase(spark, wl, sat, sb)}

    creation = fixed.creation_ms()
    data = [b for b in fb if b["numInputRows"] > 0]
    lat = stats.latency_samples_ms(
        [(b["start"], b["end"], b["commit_ms"]) for b in data], creation, FIXED_RATE
    )
    backlogs = [stats.backlog_s(b["end"], b["commit_ms"], creation) for b in data]
    grows = stats.backlog_grows(backlogs)
    # Saturated capacity: median over batch intervals after the first batch
    # of rows committed per wall second.
    sat_data = [b for b in sb if b["numInputRows"] > 0]
    capacity = _median(
        (b["numInputRows"] / ((b["commit_ms"] - a["commit_ms"]) / 1000.0)
         for a, b in zip(sat_data, sat_data[1:])),
        float("nan"),
    )
    # CPU per second of fixed-rate input: median over the intervals between
    # data batch commits, so the query start and a JIT or GC burst in one
    # interval do not count.
    cpu_per_s = _median(
        ((fixed.cpu[b["batchId"]] - fixed.cpu[a["batchId"]]) / (b["end"] - a["end"])
         for a, b in zip(data, data[1:])),
        float("nan"),
    )

    attempted = len(fb) + len(sb)
    failed = 0
    for ph, bs, chk in ((fixed, fb, checks["fixed"]), (sat, sb, checks["saturated"])):
        if ph.error or not chk["ok"]:
            failed += max(len(bs), 1)
    if grows and not (fixed.error or not checks["fixed"]["ok"]):
        failed += len(fb)
    if len(sat_data) < 2:
        failed += 1
        attempted += 1
    if lat.size < 1000:  # p99 needs ten samples beyond it
        failed += 1
        attempted += 1

    e2e = {
        "latency_p50_ms": stats.percentile(lat, 50) if lat.size else float("nan"),
        "latency_p99_ms": stats.percentile(lat, 99) if lat.size else float("nan"),
        "capacity_rps": capacity,
        "cpu_s": cpu_per_s,
        "peak_rss_mb": rss,
        "setup_s": statistics.median(warm),
    }
    info = {
        "latency_samples": int(lat.size),
        "latency_tail": stats.supported_tail(int(lat.size)),
        "batches_fixed": len(fb),
        "batches_saturated": len(sb),
        "backlog_grows": grows,
        "errors": [e for e in (fixed.error, sat.error) if e],
        "checks": checks,
        "warmup_rounds_s": warm,
        "check_s": time.time() - t_check,
    }

    layers = {}
    if tracer.enabled:
        layers = stream_layers(fixed, data, backlogs, checks["fixed"], rest, fixed_stages, fixed_sql)
        layers["session.warmup_s"] = sum(warm)
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed, "info": info}


def stream_layers(fixed: Phase, data, backlogs, c: dict, rest, stages, sql) -> dict:
    """Per-layer numbers of the fixed phase: progress records for the source,
    the micro-batch engine, the sink and the state store; REST stage and SQL
    metrics for the exchange and the written files."""

    def dur(key):
        return _median(b["durationMs"].get(key, 0) for b in data)

    fb = fixed.batches()
    ops = [op for b in fb for op in b.get("stateOperators", [])]
    write = "Execute InsertIntoHadoopFsRelationCommand"
    tot = stage_totals(stages)
    skews = [s for s in (rest.skew(st) for st in stages if st.get("shuffleReadRecords", 0) > 0) if s]
    return {
        "source.rows": float(sum(b["numInputRows"] for b in fb)),
        "source.backlog_s": _median(backlogs),
        "source.latest_offset_ms": dur("latestOffset"),
        "source.get_batch_ms": dur("getBatch"),
        "parse.rows_in": float(c["rows_in"]),
        "parse.rows_malformed": float(c["malformed"]),
        "parse.malformed_ratio": c["malformed"] / c["rows_in"],
        "branch.fraud_rows": float(c.get("fraud", 0)),
        "branch.fraud_ratio": c.get("fraud", 0) / (c["rows_in"] - c["malformed"]),
        "batch.count": float(len(data)),
        "batch.no_data_count": float(len(fb) - len(data)),
        "batch.trigger_ms": dur("triggerExecution"),
        "batch.planning_ms": dur("queryPlanning"),
        "batch.wal_commit_ms": dur("walCommit"),
        "batch.commit_offsets_ms": dur("commitOffsets"),
        "sink.add_batch_ms": dur("addBatch"),
        # window_stream collects its panel rows instead of writing files.
        "sink.rows": float(sum(map(len, fixed.panel.values()))) if fixed.wl.windowed
        else sql_node_metric(sql, write, "number of output rows"),
        "sink.bytes": sql_node_metric(sql, write, "written output"),
        "sink.files": sql_node_metric(sql, write, "number of written files"),
        "state.rows_total": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "state.rows_updated": float(sum(op["numRowsUpdated"] for op in ops)),
        "state.memory_bytes": float(max((op["memoryUsedBytes"] for op in ops), default=0)),
        "state.commit_ms": float(sum(op.get("commitTimeMs", 0) for op in ops)),
        "state.rows_dropped_by_watermark": float(sum(op["numRowsDroppedByWatermark"] for op in ops)),
        "exchange.shuffle_write_bytes": tot["shuffleWriteBytes"],
        "exchange.spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
        "exchange.partition_skew": _median(skews),
        "executor.cpu_s": tot["executorCpuTime"] / 1e9,
    }
