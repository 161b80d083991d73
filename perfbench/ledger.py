"""Counters read from outside the program: Spark's status stores, the
physical plan, ``/proc`` and the benchmark's scratch directory.

Every Spark job a statement starts carries the statement's job group, so
the per-statement ledger is a filter over the application status store
(``AppStatusStore`` for jobs and stages, ``SQLAppStatusStore`` for the
plan graphs and the SQL metrics of the Python operators).  Both stores are
read once, after the timed loop, as JSON through Spark's own Jackson
mapper.  ``PlanningListener`` times the planning of the QueryExecutions
that only exist inside an action, such as the noop write's.
"""

from __future__ import annotations

import json
import os
import re
import signal
import threading
import time

# StageData field -> ledger counter
STAGE_FIELDS = {
    "numTasks": "exec.tasks",
    "inputRecords": "exec.input_rows",
    "inputBytes": "exec.input_bytes",
    "shuffleReadBytes": "exec.shuffle_read_bytes",
    "shuffleWriteBytes": "exec.shuffle_write_bytes",
    "diskBytesSpilled": "exec.spill_bytes",
    "executorRunTime": "exec.executor_run_ms",
    "executorCpuTime": "exec.executor_cpu_ms",  # ns, scaled below
    "jvmGcTime": "exec.gc_ms",
}
EXEC_COUNTERS = ["exec.jobs", "exec.stages", *STAGE_FIELDS.values()]

# Spark 4.1 PythonSQLMetrics display name -> ledger counter
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
}
SQL_COUNTERS = [*PYTHON_METRICS.values(), "python.rows_received",
                "catalyst.exchanges", "catalyst.reused_exchanges"]
EXCHANGE_NODES = ("Exchange", "BroadcastExchange")
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric ("1,500", "13.1 KiB", "112 ms";
    multi-task metrics put the total first on their last line)."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    if not head:
        return 0.0
    value = float(head[0].replace(",", ""))
    return value * _UNITS.get(head[1], 1) if len(head) > 1 else value


class StatusStore:
    """JSON snapshots of Spark's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gateway = sc._gateway
        self._jvm = jvm
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def exec_counters(self, groups: set[str]) -> dict[str, dict[str, float]]:
        """Per job group: jobs, executed stages and their task metrics."""
        jobs = self._json(self._app.jobsList(None))
        stages = self._json(self._app.stageList(
            None, False, False, self._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        ))
        stage_group: dict[int, str] = {}
        out = {g: dict.fromkeys(EXEC_COUNTERS, 0.0) for g in groups}
        for job in jobs:
            g = job.get("jobGroup")
            if g not in out:
                continue
            out[g]["exec.jobs"] += 1
            for sid in job.get("stageIds") or []:
                stage_group.setdefault(sid, g)
        for st in stages:
            g = stage_group.get(st["stageId"])
            if g is None or st.get("status") == "SKIPPED":
                continue
            row = out[g]
            row["exec.stages"] += 1
            for field, name in STAGE_FIELDS.items():
                row[name] += float(st.get(field) or 0)
        for row in out.values():
            row["exec.executor_cpu_ms"] /= 1e6
        return out

    def sql_counters(self, groups: set[str]) -> dict[str, dict]:
        """Per job group, over the SQL executions whose description is the
        group id: the Python operators' SQL metrics and the exchanges of
        the executed plan graph (the final plan under AQE)."""
        out = {g: dict.fromkeys(SQL_COUNTERS, 0.0) for g in groups}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            g = ex.description()
            if g not in out:
                continue
            eid = ex.executionId()
            row = out[g]
            graph = self._sql.planGraph(eid)
            nodes = self._json(graph.allNodes())
            for name, n in exchange_counts(nodes, self._json(graph.edges())).items():
                row[name] += n
            values = self._json(self._sql.executionMetrics(eid))
            for node in nodes:
                python_node = bool(_PYTHON_NODE.search(node.get("name", "")))
                for m in node.get("metrics") or []:
                    text = values.get(str(m["accumulatorId"]))
                    if text is None:
                        continue
                    name = PYTHON_METRICS.get(m["name"])
                    if name is None and python_node and m["name"] == "number of output rows":
                        name = "python.rows_received"
                    if name is not None:
                        row[name] += parse_metric(text)
        return out


def exchange_counts(nodes: list[dict], edges: list[dict]) -> dict[str, float]:
    """Exchanges and reused exchanges of one SQL plan graph.  The graph
    draws a reused exchange as a second edge out of the exchange it reuses,
    or, when that exchange comes later in the plan, as a ``ReusedExchange``
    node over its own copy of it."""
    exchange_ids = {n["id"] for n in nodes if n["name"] in EXCHANGE_NODES}
    reused_nodes = sum(n["name"] == "ReusedExchange" for n in nodes)
    out_edges: dict[int, int] = {}
    for e in edges:
        if e["fromId"] in exchange_ids:
            out_edges[e["fromId"]] = out_edges.get(e["fromId"], 0) + 1
    extra = sum(n - 1 for n in out_edges.values() if n > 1)
    return {
        "catalyst.exchanges": float(len(exchange_ids) - reused_nodes),
        "catalyst.reused_exchanges": float(reused_nodes + extra),
    }


def plan_nodes(tree: str) -> float:
    """Node count of a physical plan's tree string (for AQE, the initial plan)."""
    return float(sum(1 for ln in tree.splitlines() if ln.strip()))


class PlanningListener:
    """``QueryExecutionListener`` (a py4j callback) that keeps, for every
    executed ``QueryExecution``, when it started optimizing (epoch ms) and
    how long its optimization and planning phases took.  The noop write
    wraps the DataFrame's plan in a new ``QueryExecution`` of its own, so
    this records the write's second planning."""

    def __init__(self) -> None:
        self.planning: dict[int, tuple[float, float]] = {}
        self._spark = None

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        start, total = None, 0.0
        for name in ("optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                summary = opt.get()
                start = summary.startTimeMs() if start is None else start
                total += summary.durationMs()
        if start is not None:
            self.planning[qe.id()] = (float(start), total)

    def attach(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)
        self._spark = spark

    def detach(self) -> None:
        """Deliver the pending events, then unregister."""
        spark, self._spark = self._spark, None
        if spark is not None:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ------------------------------------------------------------- resources
def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def dir_files(path: str, suffix: str) -> int:
    return sum(
        sum(f.endswith(suffix) for f in files) for _d, _s, files in os.walk(path)
    )


def session_resources(spark, tmp_dir: str) -> dict[str, float]:
    """Resources the session holds: persisted RDDs, temp views, scratch bytes."""
    return {
        "engine.persisted_rdds": float(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "engine.temp_views": float(sum(t.isTemporary for t in spark.catalog.listTables())),
        "engine.tmp_bytes": float(dir_bytes(tmp_dir)),
    }


# ------------------------------------------------------------------ host
def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Busy and steal percentages of all CPUs between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + (d[4] if len(d) > 4 else 0)
    steal = d[7] if len(d) > 7 else 0
    return {"host.busy_pct": 100.0 * (total - idle - steal) / total,
            "host.steal_pct": 100.0 * steal / total}


def calib_py_ms() -> float:
    """Fixed-size pure-Python probe; median of three."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += (i * i) % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return sorted(times)[1]


def calib_spark_ms(spark) -> float:
    """Fixed Spark probe (one 4-partition scan-and-aggregate); median of three."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 4).selectExpr("sum(id % 7)").collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return sorted(times)[1]


def tree_pids(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return pids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver, JVM,
    Python workers)."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for processes that are not our children (the JVM's Python
    workers) to exit; kill those still running at the deadline."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


class RssSampler:
    """Background sampler of the process tree's resident memory.  It walks
    ``/proc`` in the client's own process, so it runs only when enabled."""

    def __init__(self, enabled: bool, interval_s: float = 0.2) -> None:
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=5)
