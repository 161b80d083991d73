"""The benchmark's two workloads as lists of statements.

A statement is one unit of the closed loop: ``build`` calls the program's
public entry point (a registered workload builder or ``ch_sql``) and
returns a DataFrame; ``action`` forces it (the noop sink unless the
statement says otherwise) and returns what ``check`` compares.  The seed
fixes the statement order of every pass and, in ``ingest``, the generated
rows and the mutation predicates.

* ``batch_kernels``: multi-stage Arrow/pandas kernels (``beh_*``,
  ``bitmap_*``, ``llm_*``, ``ann_*``) with heavy shuffles.
* ``ingest``: a MergeTree session table grown by many small INSERTs,
  mutated and read back, plus an ``engine.write`` round trip and an
  availableNow stream ingest, all from seeded rows.
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

BATCH_KERNELS = [
    "beh_window_funnel", "beh_retention", "bitmap_cardinality_by_type",
    "llm_minhash_dedup", "llm_exact_dedup", "ann_ivf_topk",
]

REGISTRY_WORKLOADS = {"batch_kernels": BATCH_KERNELS}
WORKLOADS = ("batch_kernels", "ingest")

# ingest script shape: the read-backs and mutations sit at fixed insert
# counts, so every pass (and every seed) does the same kinds of work
N_INSERTS = 6
WARM_INSERTS = 2
READBACK_AT = (3, 6)
UPDATE_AT = 2
DELETE_AT = 4
INSERT_ROWS = 80
STREAM_ROWS = 2000
WRITE_ROWS = 5000


@dataclass
class Statement:
    key: str  # stable name within the workload; per-statement medians use it
    kind: str  # query | insert | mutate | readback | write_job | stream_ingest | ddl
    build: Callable[[Any], Any]
    action: Optional[Callable[[Any], Any]] = None  # None: noop-sink write
    check: Optional[Callable[[Any], Optional[str]]] = None  # None: golden digest
    sql: Optional[str] = None  # ch_sql text, for the frontend rewrite probe
    plannable: bool = True  # False for streaming plans (no executedPlan)
    info: dict = field(default_factory=dict)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_statements(workload: str, data_dir: str) -> list[Statement]:
    from byconity_spark.workloads import all_queries

    registry = all_queries()
    out = []
    for name in REGISTRY_WORKLOADS[workload]:
        qd = registry[name]
        out.append(Statement(
            key=name, kind="query",
            build=lambda spark, b=qd.builder: b(spark, data_dir),
        ))
    return out


def seeded_order(statements: list[Statement], seed: int, pass_no: int) -> list[Statement]:
    order = list(statements)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


# ----------------------------------------------------------------- ingest
def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))


class IngestModel:
    """Python model of the session table: the oracle for every read-back."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple[str, float, str]] = {}

    def summary(self) -> tuple[int, float, int]:
        vals = self.rows.values()
        return (len(self.rows), sum(v for _, v, _ in vals),
                len({k for k, _, _ in vals}))


def _summary_check(expected: tuple[int, float, int]):
    def check(rows) -> Optional[str]:
        if len(rows) != 1:
            return f"expected one row, got {len(rows)}"
        n, s, u = rows[0]
        s = 0.0 if s is None else float(s)
        if int(n) != expected[0] or int(u) != expected[2] or not _close(s, expected[1]):
            return f"got ({n}, {s}, {u}), expected {expected}"
        return None
    return check


def _collect(df):
    return [tuple(r) for r in df.collect()]


def ingest_pass(seed: int, pass_no: int, tmp_dir: str,
                n_inserts: int = N_INSERTS) -> list[Statement]:
    """One pass of the ingest script: CREATE, seeded INSERTs with read-backs
    and mutations at fixed counts, OPTIMIZE FINAL, a write round trip, a
    stream ingest and DROP.  Statements run in list order.  A shorter
    script (``n_inserts`` below ``N_INSERTS``) still runs every kind of
    statement once; the warm pass uses it."""
    from byconity_spark.frontend.sql import ch_sql

    rng = random.Random(f"{seed}:ingest:{pass_no}")
    table = f"pb_ingest_{pass_no}"
    model = IngestModel()
    day0 = datetime.date(2024, 1, 1)
    stmts: list[Statement] = []
    next_id = pass_no * 1_000_000

    def sql_stmt(key: str, kind: str, sql: str, check=None, action=None) -> Statement:
        return Statement(key=key, kind=kind, sql=sql, check=check, action=action,
                         build=lambda spark, q=sql: ch_sql(spark, q))

    stmts.append(sql_stmt(
        "create", "ddl",
        f"CREATE TABLE {table} (id UInt64, k String, v Float64, d Date) "
        "ENGINE = MergeTree ORDER BY id",
    ))
    for i in range(1, n_inserts + 1):
        values = []
        for _ in range(INSERT_ROWS):
            k = f"k{rng.randrange(500)}"
            v = round(rng.uniform(0.0, 1000.0), 2)
            d = (day0 + datetime.timedelta(days=rng.randrange(60))).isoformat()
            model.rows[next_id] = (k, v, d)
            values.append(f"({next_id}, '{k}', {v!r}, '{d}')")
            next_id += 1
        stmts.append(sql_stmt(
            f"insert_{i:02d}", "insert",
            f"INSERT INTO {table} VALUES " + ", ".join(values),
        ))
        if i == min(UPDATE_AT, n_inserts):
            r = rng.randrange(5)
            for rid, (k, v, d) in model.rows.items():
                if rid % 5 == r:
                    model.rows[rid] = (k, v + 1.0, d)
            stmts.append(sql_stmt(
                "update", "mutate",
                f"ALTER TABLE {table} UPDATE v = v + 1 WHERE id % 5 = {r}",
            ))
        if i == min(DELETE_AT, n_inserts):
            r = rng.randrange(7)
            model.rows = {rid: row for rid, row in model.rows.items() if rid % 7 != r}
            stmts.append(sql_stmt(
                "delete", "mutate",
                f"ALTER TABLE {table} DELETE WHERE id % 7 = {r}",
            ))
        if i == n_inserts:
            stmts.append(sql_stmt("optimize", "mutate", f"OPTIMIZE TABLE {table} FINAL"))
        if i in READBACK_AT or i == n_inserts:
            stmts.append(sql_stmt(
                f"readback_{i:02d}", "readback",
                f"SELECT count() AS n, sum(v) AS s, uniqExact(k) AS u FROM {table}",
                check=_summary_check(model.summary()), action=_collect,
            ))
    stmts.append(_write_job(rng, pass_no, tmp_dir))
    stmts.append(_stream_ingest(rng, pass_no, tmp_dir))
    stmts.append(sql_stmt("drop", "ddl", f"DROP TABLE {table}"))
    return stmts


def _write_job(rng: random.Random, pass_no: int, tmp_dir: str) -> Statement:
    """``engine.write`` round trip: a seeded parquet file loaded, written
    as partitioned, sorted parquet, then read back and aggregated."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from byconity_spark.engine.write import create_table_as, read_back

    g = [f"g{rng.randrange(8)}" for _ in range(WRITE_ROWS)]
    x = [round(rng.uniform(0.0, 100.0), 2) for _ in range(WRITE_ROWS)]
    expected = (WRITE_ROWS, sum(x), len(set(g)))
    src = os.path.join(tmp_dir, f"write_src_{pass_no}.parquet")
    path = os.path.join(tmp_dir, f"write_{pass_no}")

    def build(spark):
        pq.write_table(pa.table({"id": pa.array(range(WRITE_ROWS), pa.int64()),
                                 "g": pa.array(g), "x": pa.array(x)}), src)
        return spark.read.schema("id long, g string, x double").parquet(src)

    def action(df):
        create_table_as(df, path, partition_by=["g"], sort_by=["id"])
        back = read_back(df.sparkSession, path)
        return _collect(back.agg(F.count("*"), F.sum("x"), F.countDistinct("g")))

    return Statement(key="write_job", kind="write_job", build=build, action=action,
                     check=_summary_check(expected),
                     info={"path": path, "rows": WRITE_ROWS})


def _stream_ingest(rng: random.Random, pass_no: int, tmp_dir: str) -> Statement:
    """availableNow file-stream ingest of seeded events through the
    engine's watermarked hourly counts into a memory sink."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from byconity_spark.streaming import events_file_stream, hourly_counts

    t0 = datetime.datetime(2024, 1, 1)
    types = ["click", "error", "purchase", "signup", "view"]
    ts = sorted(t0 + datetime.timedelta(seconds=rng.randrange(3 * 86400))
                for _ in range(STREAM_ROWS))
    ev = [rng.choice(types) for _ in range(STREAM_ROWS)]
    expected: dict[tuple, int] = {}
    for t, e in zip(ts, ev):
        hour = t.replace(minute=0, second=0, microsecond=0)
        expected[(hour, e)] = expected.get((hour, e), 0) + 1
    src = os.path.join(tmp_dir, f"stream_{pass_no}")
    ckpt = os.path.join(tmp_dir, f"stream_ckpt_{pass_no}")
    name = f"pb_stream_{pass_no}"

    def build(spark):
        os.makedirs(src, exist_ok=True)
        pq.write_table(pa.table({
            "event_id": pa.array(range(STREAM_ROWS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([i % 97 for i in range(STREAM_ROWS)], pa.int64()),
            "event_type": pa.array(ev),
            "value": pa.array([1.0] * STREAM_ROWS),
            "props": pa.array(['{"k": 1}'] * STREAM_ROWS),
        }), os.path.join(src, "events.parquet"))
        return hourly_counts(events_file_stream(spark, src))

    def action(df):
        q = (df.writeStream.format("memory").queryName(name).outputMode("complete")
             .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
        q.awaitTermination()
        durations: dict[str, float] = {}
        for progress in q.recentProgress:
            for k, v in (progress.get("durationMs") or {}).items():
                durations[k] = durations.get(k, 0.0) + float(v)
        rows = _collect(df.sparkSession.table(name))
        df.sparkSession.catalog.dropTempView(name)
        return {"rows": rows, "durationMs": durations}

    def check(result) -> Optional[str]:
        got = {(h.replace(tzinfo=None), e): n for h, e, n in result["rows"]}
        if got != expected:
            return f"hourly counts differ ({len(got)} vs {len(expected)} groups)"
        return None

    return Statement(key="stream_ingest", kind="stream_ingest", build=build,
                     action=action, check=check, plannable=False)
