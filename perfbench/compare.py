#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the detail files ``run.py`` writes to
``.perfbench/runs`` (``<workload>-seed<N>-trace<T>.json``).  For every
workload and end-to-end metric the script prints both sets' median and
quartiles and one verdict, judged by the bound in ``BENCHMARK.json``:

* ``unresolved``: the host differs between the sets (below), or a set's
  quartile spread exceeds the bound and the runs do not separate
  completely (every new run better, or every one worse);
* ``worse``: the new median is worse by more than the bound;
* ``improved``: the new median is better by more than the base set's
  quartile spread and at least nine tenths of the new runs beat the base
  median;
* ``unchanged``: otherwise.

The host differs when, over a workload's untraced runs, the median of a
host probe (``host.calib_py_ms``, ``host.calib_spark_ms``) moves by more
than HOST_TOL of the base median, or the median steal moves by more than
STEAL_TOL_PCT points.  A host that got slower or faster moves every time
with it (on a shared 4-vCPU VM, two sets of the same code taken an hour
apart read 26 % apart), so no timing of that workload is judged then.
Take both sets in one session, alternating base and new runs, to keep the
host the same.

It then prints the exact deltas of the count metrics of the traced runs
(stages, tasks, exchanges, shuffle bytes, ...).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

COUNTS = [
    "exec.jobs", "exec.stages", "exec.tasks", "catalyst.plan_nodes",
    "catalyst.exchanges", "catalyst.reused_exchanges", "exec.input_rows",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "python.data_sent_bytes", "python.rows_received", "engine.persisted_rdds",
]
HOST = ["host.calib_py_ms", "host.calib_spark_ms"]
HOST_TOL = 0.10
STEAL_TOL_PCT = 2.0


def load(directory: str) -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-trace[01].json"))):
        with open(path) as f:
            d = json.load(f)
        runs.setdefault((d["workload"], d["trace"]), []).append(d)
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base: list[float], new: list[float], bound: float, higher: bool) -> str:
    sign = -1.0 if higher else 1.0  # positive delta = worse
    b1, bm, b3 = quartiles(base)
    n1, nm, n3 = quartiles(new)
    spread = max((b3 - b1) / bm if bm else 0.0, (n3 - n1) / nm if nm else 0.0)
    delta = sign * (nm - bm) / bm if bm else 0.0
    better_all = all(sign * (n - b) < 0 for n in new for b in base)
    worse_all = all(sign * (n - b) > 0 for n in new for b in base)
    if spread > bound and not (better_all or worse_all):
        return "unresolved"
    if delta > bound:
        return "worse"
    wins = sum(sign * (n - bm) < 0 for n in new) / len(new)
    if -delta > ((b3 - b1) / bm if bm else 0.0) and wins >= 0.9:
        return "improved"
    return "unchanged"


def host_changes(base: list[dict], new: list[dict]) -> list[str]:
    """How the host record of two sets of runs differs, if it does."""
    out = []
    for name in [*HOST, "host.steal_pct"]:
        bm = statistics.median(r["host"][name] for r in base)
        nm = statistics.median(r["host"][name] for r in new)
        moved = (abs(nm - bm) > STEAL_TOL_PCT if name == "host.steal_pct"
                 else bm and abs(nm / bm - 1) > HOST_TOL)
        if moved:
            out.append(f"{name} {bm:.1f} -> {nm:.1f}")
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({w for w, _ in base} | {w for w, _ in new})
    print(f"{'workload':14s} {'metric':14s} {'base q1/med/q3':>32s} "
          f"{'new q1/med/q3':>32s} {'delta':>8s}  verdict")
    for w in workloads:
        b_runs, n_runs = base.get((w, 0), []), new.get((w, 0), [])
        if not b_runs or not n_runs:
            print(f"{w:14s} (untraced runs missing in one set)")
            continue
        host = host_changes(b_runs, n_runs)
        if host:
            print(f"{w:14s} host differs, timings unresolved: {'; '.join(host)}")
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [r["metrics"][name] for r in b_runs]
            nv = [r["metrics"][name] for r in n_runs]
            bq, nq = quartiles(bv), quartiles(nv)
            delta = (nq[1] - bq[1]) / bq[1] * 100 if bq[1] else 0.0
            v = "unresolved" if host else verdict(bv, nv, m["bound"], m["better"] == "higher")
            print(f"{w:14s} {name:14s} {'/'.join(f'{x:.4g}' for x in bq):>32s} "
                  f"{'/'.join(f'{x:.4g}' for x in nq):>32s} {delta:+7.1f}%  {v}")
    print("\ncount metrics (traced runs, median per set; exact delta)")
    for w in workloads:
        b_runs, n_runs = base.get((w, 1), []), new.get((w, 1), [])
        if not b_runs or not n_runs:
            continue
        for name in COUNTS:
            bm = statistics.median(r["metrics"].get(name, 0.0) for r in b_runs)
            nm = statistics.median(r["metrics"].get(name, 0.0) for r in n_runs)
            if bm or nm:
                print(f"{w:14s} {name:28s} {bm:16.0f} -> {nm:16.0f}  ({nm - bm:+.0f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
