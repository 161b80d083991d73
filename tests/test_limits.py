"""Query limits / quotas / process list (engine/limits.py) — session
analogues of the reference's SettingQuotaAndLimitsStep, the limit settings
block (Settings.h:574-660), Access/Quota, and ProcessList + KILL QUERY."""

from __future__ import annotations

import threading
import time

import pytest

from byconity_spark.engine.catalog import register_views
from byconity_spark.engine.limits import (
    LimitExceeded,
    QuotaExceeded,
    ReadonlyError,
    process_list,
    quotas,
    session_limits,
)
from byconity_spark.frontend import ch_sql
from byconity_spark.frontend.sql import ChSqlError
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _clean_state():
    session_limits.reset()
    quotas.clear()
    yield
    session_limits.reset()
    quotas.clear()


def test_set_statement_and_coercion(spark):
    ch_sql(spark, "SET max_result_rows = 7")
    assert session_limits.get("max_result_rows") == 7
    ch_sql(spark, "SET result_overflow_mode = 'break'")
    assert session_limits.get("result_overflow_mode") == "break"
    with pytest.raises(ChSqlError):
        ch_sql(spark, "SET not_a_real_setting = 1")
    with pytest.raises(ValueError):
        ch_sql(spark, "SET result_overflow_mode = 'banana'")


def test_result_limit_break_and_throw(spark):
    register_views(spark, SF_DIR)
    out = ch_sql(
        spark,
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey "
        "SETTINGS max_result_rows = 3, result_overflow_mode = 'break'",
    ).collect()
    assert [r[0] for r in out] == [0, 1, 2]
    with pytest.raises(LimitExceeded, match="TOO_MANY_ROWS"):
        ch_sql(spark, "SELECT n_nationkey FROM nation SETTINGS max_result_rows = 3")
    # per-statement overrides must not leak into the session
    assert session_limits.get("max_result_rows") == 0


def test_rows_to_read_estimate(spark):
    register_views(spark, SF_DIR)
    with pytest.raises(LimitExceeded, match="TOO_MANY_ROWS"):
        ch_sql(spark, "SELECT count(*) FROM lineitem SETTINGS max_rows_to_read = 10")
    # generous budget passes; break mode never raises
    assert ch_sql(
        spark,
        "SELECT count(*) AS n FROM lineitem "
        "SETTINGS max_rows_to_read = 1000000000",
    ).collect()[0][0] > 0
    assert ch_sql(
        spark,
        "SELECT count(*) AS n FROM lineitem SETTINGS max_rows_to_read = 10, "
        "read_overflow_mode = 'break'",
    ).collect()[0][0] > 0


def test_readonly_three_state_contract(spark):
    ch_sql(spark, "SET readonly = 1")
    with pytest.raises(ReadonlyError):
        ch_sql(spark, "CREATE TABLE ro_t (x Int64)")
    with pytest.raises(ReadonlyError):
        ch_sql(spark, "INSERT INTO nation VALUES (1, 'x', 1, 'c')")
    with pytest.raises(ReadonlyError):  # readonly=1 freezes settings too
        ch_sql(spark, "SET max_result_rows = 5")
    session_limits.reset()

    ch_sql(spark, "SET readonly = 2")
    ch_sql(spark, "SET max_result_rows = 5")  # settings changes allowed
    assert session_limits.get("max_result_rows") == 5
    with pytest.raises(ReadonlyError):  # ...except lowering readonly
        ch_sql(spark, "SET readonly = 0")
    with pytest.raises(ReadonlyError):
        ch_sql(spark, "DROP TABLE some_table")


def _register_sleep_udf(spark, name: str, secs: float):
    def _sleep(x):
        time.sleep(secs)
        return int(x)

    spark.udf.register(name, _sleep, "bigint")


def test_timeout_throws(spark):
    # 256 rows x 0.5 s sleep over at most 32-way parallelism: >= 4 s of
    # per-partition wall — safely past the 1 s budget on any scheduling
    _register_sleep_udf(spark, "py_sleep_t", 0.5)
    t0 = time.time()
    with pytest.raises(LimitExceeded, match="TIMEOUT_EXCEEDED"):
        ch_sql(
            spark,
            "SELECT py_sleep_t(number) AS s FROM "
            "numbers(256) "
            "SETTINGS max_execution_time = 1",
        )
    assert time.time() - t0 < 25  # cancel actually stopped the job


def test_timeout_break_returns_empty(spark):
    _register_sleep_udf(spark, "py_sleep_b", 0.5)
    out = ch_sql(
        spark,
        "SELECT py_sleep_b(number) AS s FROM "
        "numbers(256) "
        "SETTINGS max_execution_time = 1, timeout_overflow_mode = 'break'",
    )
    assert out.columns == ["s"]
    assert out.count() == 0


def test_quota_window_rollover():
    quotas.create("w", 1, {"queries": 2})
    quotas.charge_query()
    quotas.charge_query()
    with pytest.raises(QuotaExceeded, match="QUOTA_EXPIRED"):
        quotas.charge_query()
    time.sleep(1.05)  # interval rolls → budget resets
    quotas.charge_query()


def test_quota_error_counter(spark):
    quotas.create("e", 3600, {"errors": 10})
    with pytest.raises(Exception):
        ch_sql(spark, "SELECT definitely_not_a_function_xyz(1)")
    rows = quotas.usage_rows()
    assert ("e", "errors", 1, 10) in rows


def test_quota_result_rows(spark):
    register_views(spark, SF_DIR)
    quotas.create("rr", 3600, {"result_rows": 5})
    ch_sql(spark, "SELECT r_regionkey FROM region")  # 5 rows — at budget
    with pytest.raises(QuotaExceeded, match="QUOTA_EXPIRED"):
        ch_sql(spark, "SELECT r_regionkey FROM region")  # 10 > 5


def test_processes_self_visibility(spark):
    n = ch_sql(spark, "SELECT count(*) AS c FROM system.processes").collect()
    assert n[0][0] == 1  # the statement sees itself, nothing else


def test_kill_query_cancels_running_statement(spark):
    _register_sleep_udf(spark, "py_sleep_k", 0.5)
    state: dict = {}

    def work():
        try:
            # max_result_rows 'throw' probes with count() in THIS thread,
            # under the registered query_id's job group → killable
            # the sleep lives in the WHERE clause so the count() probe
            # cannot column-prune it away
            ch_sql(
                spark,
                "SELECT number AS s FROM numbers(256) "
                "WHERE py_sleep_k(number) >= 0 "
                "SETTINGS max_result_rows = 1000",
            )
        except BaseException as exc:  # noqa: BLE001 — asserted below
            state["exc"] = exc

    t = threading.Thread(target=work, daemon=True)
    t.start()
    qid = None
    deadline = time.time() + 15
    while time.time() < deadline and qid is None:
        cand = [
            (q, info) for q, info in
            ((q, i) for q, i in list(process_list._running.items()))
            if "py_sleep_k" in info["query"]
        ]
        if cand:
            qid = cand[0][0]
        else:
            time.sleep(0.05)
    assert qid is not None, "slow statement never appeared in the process list"
    time.sleep(0.5)  # let the count() job actually launch
    res = ch_sql(spark, f"KILL QUERY WHERE query_id = '{qid}'").collect()
    assert res[0][1] == "CancelSent"
    t.join(timeout=30)
    assert not t.is_alive()
    assert "exc" in state, "killed statement should raise, not finish"
    assert process_list.was_killed(qid)


def test_kill_unknown_query(spark):
    res = ch_sql(spark, "KILL QUERY WHERE query_id = 'zzz'").collect()
    assert res[0][1] == "NotFound"


def test_rows_to_read_ignores_literals_and_columns(spark):
    """ADVICE r6 (low): a string literal naming a big table must not
    inflate the pre-read estimate into a false TOO_MANY_ROWS — only
    FROM/JOIN-position names count."""
    from byconity_spark.frontend import ch_sql

    got = ch_sql(
        spark,
        "SELECT 'lineitem' AS lbl, count(*) AS n FROM nation "
        "SETTINGS max_rows_to_read = 1000",
    ).collect()
    assert got[0][0] == "lineitem" and got[0][1] == 25


def test_statement_keeps_the_callers_job_group(spark):
    # ch_sql tags its jobs for KILL QUERY; the caller's job group stays on
    # the statement's own jobs (the throw probe and the timeout guard's
    # count) and on the caller's next job
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("caller-group", "caller")
    try:
        ch_sql(spark, "SELECT number FROM numbers(10) "
                      "SETTINGS max_result_rows = 100")
        n_probe = len(tracker.getJobIdsForGroup("caller-group"))
        assert n_probe >= 1
        ch_sql(spark, "SELECT number FROM numbers(10) "
                      "SETTINGS max_execution_time = 60")
        n_guard = len(tracker.getJobIdsForGroup("caller-group"))
        assert n_guard > n_probe
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert not sc.getJobTags()
        spark.range(3).count()
        assert len(tracker.getJobIdsForGroup("caller-group")) > n_guard
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
