#!/usr/bin/env python3
"""Closed-loop, layered benchmark of byconity_spark.

    python3 perfbench/run.py --workload {batch_kernels,ingest}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  One client sends each statement only after
the previous one finished, on ``local[nproc / 2]``, over tables generated
into ``.perfbench/data`` (see ``datagen.py``).  After set-up and one untimed
pass, the timed loop makes a fixed number of passes sized to ``--seconds``.
Each statement is timed at
the program's public entry points: the builder or ``ch_sql`` call
(``build``), ``queryExecution().executedPlan()`` (``plan``) and the
noop-sink write or the statement's own action (``exec``).  Its Spark jobs
carry a job group, so stage, task, shuffle and Python-worker counters are
read per statement from Spark's status stores after the loop.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes (at least untraced, traced, untraced), records
spans for every statement of the traced passes and prints the per-layer
metrics, including the tracing overhead (traced against untraced pass
wall time).  Outputs are checked outside the timed loop (golden digests for registry statements, a
Python model for ``ingest``).  The last stdout line is the JSON result; a
detail file and the spans go to ``.perfbench/runs``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import ledger
import workloads

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")
# Untimed passes between set-up and the timed loop.  The first pass after
# the cold warm pass is still slower than the ones after it (by 21-23 % in
# the median, up to 49 % in a run: the JVM is still compiling) and the
# least repeatable.
WARMUP_PASSES = 1
# Seconds one timed pass takes, by workload, on a 4-vCPU host.  The timed
# loop makes as many passes as fill --seconds at that pace, and at least
# MIN_PASSES (by --trace; a traced run brackets its traced pass with
# untraced ones).  The count is fixed rather than read off the clock:
# every pass is still a little faster than the one before it, so a run
# that fitted one more pass in would read faster for that reason alone.
PASS_SECONDS = {"batch_kernels": 5.0, "ingest": 6.5}
MIN_PASSES = {0: 2, 1: 3}


def timed_passes(workload: str, seconds: float, trace: int) -> int:
    return max(MIN_PASSES[trace], round(seconds / PASS_SECONDS[workload]))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args():
    ap = argparse.ArgumentParser(description="byconity_spark layered benchmark")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(path) as f:
        return json.load(f)


def prepare_host(tmp: str) -> None:
    """Pin the session to this host through the env vars the engine reads,
    and keep every scratch path inside the checkout."""
    # Half the CPUs this process may use: the task threads, the Python
    # workers they feed and the client then fit in the CPUs together.  With
    # a task thread per CPU they do not, and a run on a shared host measures
    # the scheduler (batch_kernels: as many statements per second on 2 of
    # 4 vCPUs, with a lower run-to-run spread).
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_STATS_DIR": os.path.join(tmp, "stats"),
        "SPARK_GRAFT_BACKUP_ROOT": os.path.join(tmp, "backups"),
        "TMPDIR": tmp,
        # the launcher JVM that starts the driver JVM (spark-class)
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the engine's kernels from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None


def spark_conf(tmp: str) -> dict:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def ensure_data() -> str:
    """Generate the base tables once per checkout (keyed by generator source)."""
    import datagen

    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(WORK, "data", f"sf{datagen.SCALE}-{tag}")
    marker = os.path.join(data, "_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(data, ignore_errors=True)
        datagen.write(data)
        open(marker, "w").close()
    return data


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs) -> float:
    if len(xs) < 2:
        return median(xs)
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


class Trace:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self, t_origin: float) -> None:
        self.t_origin = t_origin
        self.spans: list[dict] = []

    def add(self, group: str, name: str, parent, t0: float, t1: float, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": parent, "group": group, "name": name,
            "start_ms": round((t0 - self.t_origin) * 1e3, 3),
            "end_ms": round((t1 - self.t_origin) * 1e3, 3), **attrs,
        })
        return sid

    def self_ms(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end_ms"] - s["start_ms"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


class Bench:
    def __init__(self, args, data_dir: str, tmp: str) -> None:
        self.args = args
        self.data_dir = data_dir
        self.tmp = tmp
        self.workload = args.workload
        self.t_origin = time.perf_counter()
        self.trace = Trace(self.t_origin)
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.resources: list[dict] = []
        self.marks: dict[str, float] = {}
        self.pass_ms: dict[int, tuple[float, bool]] = {}
        self.pass_steal: dict[int, float] = {}
        self.listener = ledger.PlanningListener()
        self.golden = {}
        if self.workload in workloads.REGISTRY_WORKLOADS:
            with open(os.path.join(HERE, "golden.json")) as f:
                self.golden = json.load(f)

    # ---------------------------------------------------------- session
    def setup(self) -> dict:
        """Session start (with the JVM launch), view registration, then one
        warm pass that doubles as the output check."""
        from byconity_spark import get_spark
        from byconity_spark.engine.catalog import register_views

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=spark_conf(self.tmp))
        t1 = time.perf_counter()
        register_views(self.spark, self.data_dir)
        t2 = time.perf_counter()
        self.run_pass(0, traced=False, warm=True)
        t3 = time.perf_counter()
        return {
            "setup.session_ms": (t1 - t0) * 1e3,
            "setup.views_ms": (t2 - t1) * 1e3,
            "setup.warm_ms": (t3 - t2) * 1e3 - self.check_ms,
        }

    # ------------------------------------------------------- statements
    def statements(self, pass_no: int):
        if self.workload == "ingest":
            n = workloads.WARM_INSERTS if pass_no == 0 else workloads.N_INSERTS
            return workloads.ingest_pass(self.args.seed, pass_no, self.tmp, n)
        if not hasattr(self, "_pool"):
            self._pool = workloads.registry_statements(self.workload, self.data_dir)
        return workloads.seeded_order(self._pool, self.args.seed, pass_no)

    def run_stmt(self, st, pass_no: int, traced: bool, warm: bool) -> dict:
        spark = self.spark
        group = f"pb:{self.workload}:{pass_no}:{st.key}"
        spark.sparkContext.setJobGroup(group, group)
        rec = {"key": st.key, "kind": st.kind, "pass": pass_no, "group": group,
               "traced": traced, "ok": False}
        collect = warm and st.kind == "query"
        self.attempted += 1
        wall0 = time.time()
        t = [time.perf_counter()]  # start, then the end of build, plan, exec
        try:
            df = st.build(spark)
            t.append(time.perf_counter())
            qe = None
            if st.plannable and df is not None:
                qe = df._jdf.queryExecution()
                plan = qe.executedPlan()
            t.append(time.perf_counter())
            if collect:
                result = (df.columns, [tuple(r) for r in df.collect()])
            else:
                result = (st.action or workloads.noop_sink)(df)
            t.append(time.perf_counter())
        except Exception as exc:  # a failing statement is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            rec["t_fail"] = time.perf_counter()
            self.failures.append(f"{st.key} (pass {pass_no}): {rec['error']}")
            return rec
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            spark.sparkContext.setLocalProperty("spark.job.description", None)
            rec.update(wall0=wall0, t=t)
        t0, t1, t2, t3 = t
        rec.update(ok=True, build_ms=(t1 - t0) * 1e3, plan_ms=(t2 - t1) * 1e3,
                   exec_ms=(t3 - t2) * 1e3, total_ms=(t3 - t0) * 1e3)
        if traced and qe is not None:
            rec["catalyst.plan_nodes"] = ledger.plan_nodes(plan.treeString())
        c0 = time.perf_counter()
        problem = self.check(st, result, collect)
        self.check_ms += (time.perf_counter() - c0) * 1e3
        if problem:
            rec["ok"] = False
            rec["mismatch"] = problem
            self.failures.append(f"{st.key} (pass {pass_no}): {problem}")
        if st.kind == "stream_ingest":
            rec["stream_batch_ms"] = result["durationMs"].get("addBatch", 0.0)
        if st.kind == "write_job":
            path = st.info["path"]
            rec["write_bytes"] = ledger.dir_bytes(path)
            rec["write_files"] = ledger.dir_files(path, ".parquet")
            rec["write_rows"] = st.info["rows"]
        if st.sql is not None:
            rec["sql"] = st.sql
        return rec

    def check(self, st, result, collected: bool):
        if st.check is not None:
            return st.check(result)
        if not collected:
            return None
        from digest import digest

        gold = self.golden.get(st.key)
        got = digest(*result)
        if gold is None:
            return "no golden digest recorded"
        if (got["rows"], got["digest"]) != (gold["rows"], gold["digest"]):
            return f"digest {got} differs from golden {gold['rows']}/{gold['digest']}"
        verdict = gold.get("oracle", "none")
        if verdict != "match" and not verdict.startswith("none"):
            return f"golden disagrees with the DuckDB oracle: {gold['oracle']}"
        return None

    def run_pass(self, pass_no: int, traced: bool, warm: bool = False) -> None:
        t0 = time.perf_counter()
        for st in self.statements(pass_no):
            self.records.append(self.run_stmt(st, pass_no, traced, warm))
        self.pass_ms[pass_no] = ((time.perf_counter() - t0) * 1e3, traced)
        snap = ledger.session_resources(self.spark, self.tmp)
        snap["pass"] = pass_no
        self.resources.append(snap)

    # -------------------------------------------------------------- run
    def run(self) -> dict:
        self.check_ms = 0.0
        self.mark("ready")
        # peak_rss_mb is a per-layer metric: only traced runs sample it
        with ledger.RssSampler(enabled=bool(self.args.trace)) as rss:
            setup = self.setup()
            self.mark("setup")
            self.first_timed = 1 + WARMUP_PASSES
            for pass_no in range(1, self.first_timed):
                self.run_pass(pass_no, traced=False)
            self.mark("warmup")
            calib0 = (ledger.calib_py_ms(), ledger.calib_spark_ms(self.spark))
            cpu0 = cpu = ledger.cpu_times()
            n = timed_passes(self.workload, self.args.seconds, self.args.trace)
            for i in range(n):
                pass_no = self.first_timed + i
                traced = bool(self.args.trace) and i % 2 == 1
                if traced:
                    self.listener.attach(self.spark)
                self.run_pass(pass_no, traced)
                self.listener.detach()
                cpu, before = ledger.cpu_times(), cpu
                self.pass_steal[pass_no] = ledger.cpu_shares(before, cpu)["host.steal_pct"]
            self.mark("loop")
            host = ledger.cpu_shares(cpu0, ledger.cpu_times())
            calib1 = (ledger.calib_py_ms(), ledger.calib_spark_ms(self.spark))
        host["host.calib_py_ms"] = (calib0[0] + calib1[0]) / 2
        host["host.calib_spark_ms"] = (calib0[1] + calib1[1]) / 2
        timed = [r for r in self.records if r["pass"] >= self.first_timed]
        groups = {r["group"] for r in timed}
        store = ledger.StatusStore(self.spark)
        counters = store.exec_counters(groups)
        if self.args.trace:
            traced_groups = {r["group"] for r in timed if r["traced"]}
            for g, row in store.sql_counters(traced_groups).items():
                counters[g].update(row)
            self.attach_query_log(timed)
            self.rewrite_probe(timed)
        for r in timed:
            r.update(counters.get(r["group"], {}))
        if self.args.trace:
            self.add_spans(timed)
        self.mark("ledger")
        return {"setup": setup, "host": host, "rss_peak_mb": rss.peak_mb,
                "passes": n, "timed": timed}

    def add_spans(self, timed: list[dict]) -> None:
        """Spans ``stmt`` -> ``build`` / ``plan`` / ``exec`` of every traced
        statement (as far as it got), and under ``exec`` one ``replan`` span
        per QueryExecution that started optimizing inside the exec span (for
        the noop sink, the write command): its optimization and planning, as
        the planning listener recorded them.  The loop is closed, so every
        such QueryExecution belongs to the statement."""
        for r in timed:
            if not r["traced"]:
                continue
            t, g = r["t"], r["group"]
            end = r.get("t_fail", t[-1])
            sid = self.trace.add(g, "stmt", None, t[0], end, key=r["key"], ok=r["ok"])
            ids = [self.trace.add(g, name, sid, a, b)
                   for name, a, b in zip(("build", "plan", "exec"), t, t[1:] + [end])]
            r["replan_ms"] = 0.0
            if len(t) < 4:
                continue
            wall_ms = (r["wall0"] + t[2] - t[0]) * 1e3, (r["wall0"] + t[3] - t[0]) * 1e3
            for start_ms, dur_ms in self.listener.planning.values():
                if not int(wall_ms[0]) <= start_ms <= wall_ms[1]:
                    continue
                a = min(max(t[2] + (start_ms - wall_ms[0]) / 1e3, t[2]), t[3])
                b = min(a + dur_ms / 1e3, t[3])
                self.trace.add(g, "replan", ids[2], a, b)
                r["replan_ms"] += (b - a) * 1e3

    def attach_query_log(self, timed: list[dict]) -> None:
        """frontend.chsql_ms: system.query_log durations recorded while a
        traced statement's build ran."""
        from byconity_spark.engine.query_log import query_log

        entries = query_log.entries_df(self.spark).select(
            "event_time", "duration_ms").collect()
        for r in timed:
            if r["traced"] and r["ok"]:
                lo, hi = r["wall0"], r["wall0"] + r["build_ms"] / 1e3 + 0.001
                r["chsql_ms"] = sum(
                    e.duration_ms for e in entries
                    if lo <= e.event_time.timestamp() <= hi)

    def rewrite_probe(self, timed: list[dict]) -> None:
        """frontend.rewrite_ms: rewrite_ch_sql on each traced statement's text."""
        from byconity_spark.frontend.sql import rewrite_ch_sql

        for r in timed:
            if r["traced"] and "sql" in r:
                t0 = time.perf_counter()
                try:
                    rewrite_ch_sql(r["sql"])
                except Exception:  # not every DDL text is rewritable
                    pass
                r["rewrite_ms"] = (time.perf_counter() - t0) * 1e3

    def mark(self, name: str) -> None:
        """Seconds since process start at each phase boundary of the run."""
        self.marks[name] = round(time.perf_counter() - T_START, 3)

    def stop(self) -> None:
        """Stop the session, then the JVM (which takes its Python workers
        with it), and wait for all of them to exit."""
        from pyspark import SparkContext

        descendants = [p for p in ledger.tree_pids(os.getpid()) if p != os.getpid()]
        spark = getattr(self, "spark", None)
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        ledger.wait_gone(descendants)


# ------------------------------------------------------------ metrics
KIND_METRICS = {
    "insert": "insert_p50_ms", "mutate": "mutate_p50_ms",
    "readback": "readback_p50_ms", "write_job": "write_job_p50_ms",
    "stream_ingest": "stream_ingest_p50_ms",
}
COUNT_METRICS = [
    "catalyst.plan_nodes", "catalyst.exchanges", "catalyst.reused_exchanges",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.input_rows",
    "exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.executor_run_ms", "exec.executor_cpu_ms",
    "exec.gc_ms", "python.boot_ms", "python.init_ms", "python.total_ms",
    "python.data_sent_bytes", "python.data_received_bytes",
    "python.rows_received",
]


def per_key_medians(recs: list[dict]) -> dict[str, tuple[float, int]]:
    by: dict[str, list[float]] = {}
    for r in recs:
        if r["ok"]:
            by.setdefault(r["key"], []).append(r["total_ms"])
    return {k: (median(v), len(v)) for k, v in by.items()}


def end_to_end(res: dict, bench: Bench) -> tuple[dict, dict]:
    timed = res["timed"]
    ok = [r for r in timed if r["ok"]]
    meds = per_key_medians(timed)
    stmt_ms = [m for m, _ in meds.values()]
    busy_s = sum(r["total_ms"] for r in ok) / 1e3
    rows = sum(r.get("exec.input_rows", 0.0) for r in ok)
    s = res["setup"]
    metrics = {
        "setup_s": (s["setup.session_ms"] + s["setup.views_ms"] + s["setup.warm_ms"]) / 1e3,
        "stmt_p50_ms": median(stmt_ms),
        "stmt_p90_ms": p90(stmt_ms),
        "stmt_per_s": len(ok) / busy_s if busy_s else 0.0,
        "rows_per_s": rows / busy_s if busy_s else 0.0,
    }
    samples = {"statements": len(meds), "executions": len(ok),
               "pass_steal_pct": bench.pass_steal,
               "per_statement": {k: {"median_ms": m, "n": n} for k, (m, n) in meds.items()}}
    return metrics, samples


def per_layer(res: dict, bench: Bench) -> dict:
    timed = res["timed"]
    traced = [r for r in timed if r["traced"] and r["ok"]]
    untraced = [r for r in timed if not r["traced"]]
    first = min((r["pass"] for r in traced), default=None)
    first_pass = [r for r in traced if r["pass"] == first]
    n = max(len(traced), 1)

    def mean(field: str, recs=traced) -> float:
        return sum(r.get(field, 0.0) for r in recs) / max(len(recs), 1)

    m = dict(res["setup"])
    m["frontend.build_ms"] = mean("build_ms")
    m["frontend.chsql_ms"] = mean("chsql_ms")
    sql_recs = [r for r in traced if "rewrite_ms" in r]
    m["frontend.rewrite_ms"] = mean("rewrite_ms", sql_recs) if sql_recs else 0.0
    m["catalyst.plan_ms"] = mean("plan_ms")
    m["catalyst.replan_ms"] = mean("replan_ms")
    m["exec.ms"] = sum(r["exec_ms"] - r.get("replan_ms", 0.0) for r in traced) / n
    for c in COUNT_METRICS:
        m[c] = sum(r.get(c, 0.0) for r in first_pass)
    writes = [r for r in traced if r["kind"] == "write_job"]
    m["write.bytes_on_disk"] = mean("write_bytes", writes) if writes else 0.0
    m["write.files"] = mean("write_files", writes) if writes else 0.0
    m["write.bytes_per_row"] = (
        sum(r["write_bytes"] for r in writes) / sum(r["write_rows"] for r in writes)
        if writes else 0.0)
    streams = [r for r in traced if r["kind"] == "stream_ingest"]
    m["stream.batch_ms"] = median([r["stream_batch_ms"] for r in streams])
    m["stream.startup_ms"] = median([r["total_ms"] - r["stream_batch_ms"] for r in streams])
    for kind, name in KIND_METRICS.items():
        m[name] = median([r["total_ms"] for r in untraced if r["ok"] and r["kind"] == kind])
    m["failed_ratio"] = len(bench.failures) / max(bench.attempted, 1)
    m["peak_rss_mb"] = res["rss_peak_mb"]
    last = bench.resources[-1]
    for k in ("engine.persisted_rdds", "engine.temp_views", "engine.tmp_bytes"):
        m[k] = last[k]
    for k in ("host.calib_py_ms", "host.calib_spark_ms", "host.steal_pct", "host.busy_pct"):
        m[k] = res["host"][k]
    # pass wall times include the tracing work done between statements
    timed_ms = [v for p, v in bench.pass_ms.items() if p >= bench.first_timed]
    t_ms = [ms for ms, tr in timed_ms if tr]
    u_ms = [ms for ms, tr in timed_ms if not tr]
    m["trace.overhead_pct"] = (
        100.0 * (median(t_ms) / median(u_ms) - 1.0) if t_ms and u_ms else 0.0)
    return m


def main() -> int:
    args = parse_args()
    spec = load_spec()
    if not os.path.isfile(os.path.join(ROOT, "byconity_spark", "__init__.py")):
        fail("byconity_spark/ not found; run from the repository root")
    if args.seconds <= 0:
        fail("--seconds must be positive")
    sys.path.insert(0, ROOT)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    prepare_host(tmp)
    data_dir = ensure_data()

    bench = Bench(args, data_dir, tmp)
    try:
        res = bench.run()
        if args.trace:
            metrics = per_layer(res, bench)
            wanted = spec["per_layer"]
        else:
            metrics, samples = end_to_end(res, bench)
            res["samples"] = samples
            wanted = spec["end_to_end"]
    finally:
        bench.stop()
        bench.mark("stopped")
        shutil.rmtree(tmp, ignore_errors=True)

    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        with open(os.path.join(runs, stem + ".spans.json"), "w") as f:
            json.dump({"self_ms": bench.trace.self_ms(), "spans": bench.trace.spans}, f)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "passes": res["passes"], "metrics": metrics,
        "timeline_s": bench.marks,
        "setup": res["setup"], "host": res["host"], "samples": res.get("samples"),
        "resources": bench.resources, "failures": bench.failures,
        "statements": [{k: v for k, v in r.items() if k not in ("sql", "t", "t_fail")}
                       for r in bench.records],
    }
    with open(os.path.join(runs, stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for msg in bench.failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    out = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
