#!/usr/bin/env python3
"""Interleaved A/B of the perfbench ``ingest`` script on two checkouts.

    python .dev/ab_session_parts.py A_DIR B_DIR [--rounds 3] [--passes 2]
                                    [--seed 41] [--warm-tasks 3000]

Each round starts one fresh Spark session per checkout, in A-B order on
even rounds and B-A order on odd ones, so both sides share the same host
window.  A session runs the checkout's own ``perfbench`` set-up (same host
pinning and Spark configuration as ``perfbench/run.py``), one short warm
pass, ``--warm-tasks`` trivial Spark tasks (range aggregates of 100
partitions each, the same on both sides), then ``--passes`` timed passes
of the ingest script.  The extra warm-up evens out how warm each side's
JIT is when timing starts, for a change that runs fewer tasks per pass;
``--warm-tasks 0`` times the statements as ``perfbench/run.py`` does.
Every statement runs under its own job group, and its jobs and tasks are
read from Spark's status store after the passes.  Read-backs are checked against the
script's Python model; a mismatch is printed and fails the run.

Prints, per statement, the median wall time of each side, B's change
against A, and the median jobs and tasks of each side; then the median
per-pass sum and the median of perfbench's Spark probe
(``ledger.calib_spark_ms``), read just before and just after the timed
passes.  Only the statements of the session-table layer are worth
comparing this way (inserts, mutations, OPTIMIZE, read-backs); the
write round trip and the stream ingest are listed for completeness.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def child(checkout: str, seed: int, passes: int, round_no: int,
          warm_tasks: int) -> None:
    """One Spark session on ``checkout``: print one JSON line of records."""
    os.chdir(checkout)
    sys.path[:0] = [checkout, os.path.join(checkout, "perfbench")]
    import ledger
    import run
    import workloads

    tmp = tempfile.mkdtemp(prefix="ab-session-parts-")
    run.prepare_host(tmp)
    from byconity_spark import get_spark

    spark = get_spark(app_name="ab-session-parts", extra_conf=run.spark_conf(tmp))
    sc = spark.sparkContext
    records, failures, calib = [], [], {}
    base = round_no * 100  # distinct table names and seeds per round
    plan = [(base, workloads.WARM_INSERTS, False)] + [
        (base + p, workloads.N_INSERTS, True) for p in range(1, passes + 1)]
    try:
        for pass_no, n_inserts, timed in plan:
            if timed and not calib:
                for _ in range(warm_tasks // 100):
                    spark.range(0, 100_000, 1, 100).selectExpr(
                        "sum(id % 7)").collect()
                calib["before"] = ledger.calib_spark_ms(spark)
            for st in workloads.ingest_pass(seed, pass_no, tmp, n_inserts):
                group = f"ab:{pass_no}:{st.key}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                try:
                    df = st.build(spark)
                    result = (st.action or workloads.noop_sink)(df)
                    ms = (time.perf_counter() - t0) * 1e3
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                problem = st.check(result) if st.check else None
                if problem:
                    failures.append(f"{st.key} (pass {pass_no}): {problem}")
                if timed:
                    records.append({"key": st.key, "pass": pass_no,
                                    "group": group, "ms": ms})
        calib["after"] = ledger.calib_spark_ms(spark)
        counters = ledger.StatusStore(spark).exec_counters(
            {r["group"] for r in records})
        for r in records:
            c = counters[r.pop("group")]
            r["jobs"], r["tasks"] = c["exec.jobs"], c["exec.tasks"]
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"records": records, "failures": failures,
                      "calib": calib}))


def run_side(checkout: str, args, round_no: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", checkout,
         "--seed", str(args.seed), "--passes", str(args.passes),
         "--round", str(round_no), "--warm-tasks", str(args.warm_tasks)],
        capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", nargs="?")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--seed", type=int, default=41)
    ap.add_argument("--warm-tasks", type=int, default=3000)
    ap.add_argument("--round", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        child(os.path.abspath(args.child), args.seed, args.passes, args.round,
              args.warm_tasks)
        return 0
    if not (args.a and args.b):
        ap.error("two checkouts are required")
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    recs: dict[str, list] = {"A": [], "B": []}
    calib: dict[str, dict] = {"A": {"before": [], "after": []},
                              "B": {"before": [], "after": []}}
    failures = []
    for rnd in range(args.rounds):
        for side in ("AB" if rnd % 2 == 0 else "BA"):
            res = run_side(sides[side], args, rnd)
            recs[side] += res["records"]
            for k in ("before", "after"):
                calib[side][k].append(res["calib"][k])
            failures += [f"{side}: {f}" for f in res["failures"]]
            print(f"round {rnd} {side} done", file=sys.stderr, flush=True)

    def by_key(side):
        out: dict[str, dict] = {}
        for r in recs[side]:
            d = out.setdefault(r["key"], {"ms": [], "jobs": [], "tasks": []})
            for f in ("ms", "jobs", "tasks"):
                d[f].append(r[f])
        return out

    a, b = by_key("A"), by_key("B")
    med = statistics.median
    print(f"A = {sides['A']}\nB = {sides['B']}")
    print(f"{args.rounds} rounds x {args.passes} passes, seed {args.seed}, "
          f"{args.warm_tasks} warm-up tasks")
    print(f"{'statement':<14}{'A ms':>9}{'B ms':>9}{'B/A':>8}"
          f"{'A jobs':>8}{'B jobs':>8}{'A tasks':>9}{'B tasks':>9}")
    for key in a:
        if key not in b:
            continue
        ma, mb = med(a[key]["ms"]), med(b[key]["ms"])
        print(f"{key:<14}{ma:>9.1f}{mb:>9.1f}{mb / ma - 1:>+8.0%}"
              f"{med(a[key]['jobs']):>8.0f}{med(b[key]['jobs']):>8.0f}"
              f"{med(a[key]['tasks']):>9.0f}{med(b[key]['tasks']):>9.0f}")

    def pass_sums(side):
        sums: dict = {}
        for r in recs[side]:
            sums[r["pass"]] = sums.get(r["pass"], 0.0) + r["ms"]
        return list(sums.values())

    sa, sb = pass_sums("A"), pass_sums("B")
    print(f"pass sum ms: A {med(sa):.0f} (n={len(sa)}), B {med(sb):.0f} "
          f"(n={len(sb)}), B/A {med(sb) / med(sa) - 1:+.0%}")
    for k in ("before", "after"):
        print(f"spark probe ms {k} the timed passes: "
              f"A {med(calib['A'][k]):.1f}, B {med(calib['B'][k]):.1f}")
    for f in failures:
        print(f"MISMATCH {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
