#!/usr/bin/env python3
"""Record the golden digest of every ``batch_kernels`` statement and check
it once against the DuckDB oracle.

    python3 perfbench/golden.py   # from the repository root

Runs each registry statement twice on the generated tables (a statement
whose two digests differ is reported as nondeterministic), runs the
registry's oracle SQL, where one exists, on the same parquet files through
DuckDB, and writes ``perfbench/golden.json``: per statement the row count,
the digest and the oracle verdict (``match``, ``none`` or the mismatch).
A statement that disagrees with its oracle keeps its entry and is counted
as failed by every benchmark run.  An oracle that runs longer than
ORACLE_TIMEOUT_S is interrupted and recorded as unchecked.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import run  # noqa: E402

GOLDEN = os.path.join(HERE, "golden.json")
ORACLE_TIMEOUT_S = 2400


def run_oracle(con, sql: str):
    """Oracle rows, or None if DuckDB was interrupted at the time limit."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        return list(rel.columns), rel.fetchall()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def main() -> int:
    from byconity_spark.workloads import all_queries
    from digest import canonicalize, digest

    tmp = os.path.join(run.WORK, "golden-tmp")
    os.makedirs(tmp, exist_ok=True)
    run.prepare_host(tmp)
    data = run.ensure_data()
    from byconity_spark import get_spark
    from byconity_spark.engine.catalog import TABLES, register_views

    spark = get_spark(app_name="perfbench-golden", extra_conf=run.spark_conf(tmp))
    register_views(spark, data)
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{name}.parquet')")
    registry = all_queries()
    import workloads

    out = {}
    for wl, names in workloads.REGISTRY_WORKLOADS.items():
        for name in names:
            qd = registry[name]
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                df = qd.builder(spark, data)
                rows = [tuple(r) for r in df.collect()]
                runs.append((df.columns, rows, time.perf_counter() - t0))
            cols, rows, secs = runs[1]
            d = digest(cols, rows)
            if digest(*runs[0][:2]) != d:
                d["oracle"] = "nondeterministic: two runs differ"
            elif qd.oracle is None:
                d["oracle"] = "none"
            else:
                oracle = run_oracle(con, qd.oracle)
                o_cols, o_rows = oracle or (None, None)
                if oracle is None:
                    d["oracle"] = f"none: oracle exceeded {ORACLE_TIMEOUT_S} s"
                elif sorted(o_cols) != sorted(cols):
                    d["oracle"] = f"columns differ: {sorted(o_cols)}"
                elif canonicalize(o_cols, o_rows)[1] != canonicalize(cols, rows)[1]:
                    d["oracle"] = "rows differ"
                else:
                    d["oracle"] = "match"
            d["workload"] = wl
            out[name] = d
            print(f"{wl:14s} {name:32s} rows={d['rows']:<7d} {d['oracle']:10s} "
                  f"{secs * 1e3:8.1f} ms", flush=True)
            with open(GOLDEN, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
                f.write("\n")
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    bad = [n for n, d in out.items()
           if d["oracle"] != "match" and not d["oracle"].startswith("none")]
    print(f"golden: {len(out)} statements, oracle problems: {bad or 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
