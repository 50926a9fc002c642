"""What every workload shares: the Spark session, the work directory, CPU and
memory read from /proc, the span tracer and Spark's REST reports.

Nothing here touches engine internals. The session comes from the engine's
own ``session.get_spark``; measurements come from /proc, from
``StreamingQueryProgress`` and from the REST API of the Spark UI (started
only for traced runs).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.request
import uuid
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Workdir:
    """Scratch space inside the checkout. Spark's local dirs, the JVM's temp
    dir and every output of a run live here; ``close`` removes it."""

    def __init__(self, workload: str):
        self.path = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True)
        (self.path / "tmp").mkdir()
        # Python's tempfile and PySpark's serializer files follow TMPDIR.
        os.environ["TMPDIR"] = str(self.path / "tmp")

    def sub(self, name: str) -> str:
        return str(self.path / name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(cores: int, work: Workdir, traced: bool):
    """The engine's session on local[cores], with every file Spark writes kept
    inside the work dir. Python workers import the engine package only if it
    is on PYTHONPATH, so the checkout root is put there first."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.session import get_spark

    tmp = work.sub("tmp")
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # A streaming aggregation fixes its state partitions at the first
        # batch and AQE cannot coalesce them; one per core keeps the state
        # commit from dominating every batch on a small machine.
        "spark.sql.shuffle.partitions": str(cores),
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- /proc ---------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass  # the process or thread ended while we looked
    return out


def process_tree(root: int | None = None) -> list[int]:
    """This process and all its descendants: the Spark JVM is our child, the
    Python workers are the JVM's."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def cpu_seconds() -> float:
    """utime+stime of the driver, the JVM and its Python workers, plus what
    their reaped children used."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def jvm_pid() -> int:
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no Spark JVM among this process's descendants")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --- spans -----------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent, one run id) and written
    out once at the end. Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        # Parent for spans opened on threads with no open span, e.g. Spark's
        # foreachBatch callbacks: the span open on the main thread.
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"run": self.run_id, "id": sid, "parent": parent, "name": name,
                     "start": start, "end": end}
                )

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# --- Spark REST reports (traced runs only) ---------------------------------


class SparkRest:
    """Reads /api/v1 of the running application's UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self.get("/stages")), default=-1)

    def stages_after(self, stage_id: int) -> list[dict]:
        return [s for s in self.get("/stages") if s["stageId"] > stage_id]

    def skew(self, stage: dict) -> float | None:
        """max / median shuffle-read records over the stage's tasks, or None
        for a stage that reads no shuffle."""
        d = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, top = d["shuffleReadMetrics"]["readRecords"]
        return top / med if med > 0 else None

    def sql_executions_after(self, execution_id: int) -> list[dict]:
        return [
            e
            for e in self.get("/sql?details=true&planDescription=false&length=100000")
            if e["id"] > execution_id
        ]

    def max_sql_id(self) -> int:
        return max((e["id"] for e in self.get("/sql?details=false&length=100000")), default=-1)


def stage_totals(stages: list[dict]) -> dict[str, float]:
    keys = ("inputBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
            "executorCpuTime")
    return {k: float(sum(s.get(k, 0) for s in stages)) for k in keys}


def sql_node_metric(executions: list[dict], node_prefix: str, metric: str) -> float:
    """Sum of a node metric over SQL executions, for nodes whose name starts
    with ``node_prefix``. Values are rendered strings such as '1,234' or
    '12.3 KiB' (sizes converted to bytes)."""
    units = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}
    total = 0.0
    for e in executions:
        for node in e.get("nodes", []):
            if not node["nodeName"].startswith(node_prefix):
                continue
            for m in node.get("metrics", []):
                if m["name"] == metric:
                    parts = m["value"].replace(",", "").split()
                    total += float(parts[0]) * (units[parts[1]] if len(parts) > 1 else 1)
    return total
