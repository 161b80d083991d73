"""Session-table parts: one inserted block is one Spark partition (the
reference writes one MergeTree part per INSERT block), and OPTIMIZE records
its merge in the parts ledger without starting a Spark job; the ledger is
counted only when system.cnch_parts / system.cnch_parts_info is read."""

from __future__ import annotations

import pytest

from byconity_spark.frontend import ch_sql

TABLES = ("sp_t", "sp_sel", "sp_u")


@pytest.fixture(autouse=True)
def _drop(spark):
    yield
    for t in TABLES:
        ch_sql(spark, f"DROP TABLE IF EXISTS {t}")


def _values(rows) -> str:
    return ", ".join(f"({i}, {v!r})" for i, v in rows)


def _block_sizes(spark, name: str) -> list[int]:
    return spark.table(name).rdd.glom().map(len).collect()


def _parts(spark, name: str):
    parts = ch_sql(
        spark,
        "SELECT name, rows, bytes_on_disk, active, part_type "
        f"FROM system.cnch_parts WHERE table = '{name}'",
    ).collect()
    info = ch_sql(
        spark,
        "SELECT total_parts_number, total_parts_size, total_rows_count "
        f"FROM system.cnch_parts_info WHERE table = '{name}'",
    ).collect()
    return [tuple(r) for r in parts], [tuple(r) for r in info]


def _jobs_of(spark, sql: str) -> int:
    """Spark jobs started by one ch_sql statement, under a job group."""
    sc = spark.sparkContext
    group = f"jobs-of-{sql[:40]}"
    sc.setJobGroup(group, group)
    try:
        ch_sql(spark, sql)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_values_block_is_one_partition_and_select_keeps_its_own(spark):
    ch_sql(spark, "CREATE TABLE sp_t (id UInt64, v Float64) "
                  "ENGINE = MergeTree ORDER BY id")
    model: dict[int, float] = {}
    sizes = [3, 5, 2]
    nxt = 0
    for n in sizes:
        block = [(nxt + j, float(nxt + j) / 2) for j in range(n)]
        nxt += n
        model.update(block)
        ch_sql(spark, f"INSERT INTO sp_t VALUES {_values(block)}")
    assert _block_sizes(spark, "sp_t") == sizes

    csv = [(nxt + j, float(j) + 0.25) for j in range(4)]
    model.update(csv)
    ch_sql(spark, "INSERT INTO sp_t FORMAT CSV "
                  + "\n".join(f"{i},{v}" for i, v in csv))
    sizes.append(len(csv))
    assert _block_sizes(spark, "sp_t") == sizes

    src = "SELECT number + 100 AS id, toFloat64(number) AS v FROM numbers(40)"
    src_parts = ch_sql(spark, src).rdd.getNumPartitions()
    ch_sql(spark, f"INSERT INTO sp_t {src}")
    model.update({100 + j: float(j) for j in range(40)})
    got = _block_sizes(spark, "sp_t")
    assert got[:len(sizes)] == sizes
    assert len(got) == len(sizes) + src_parts and sum(got) == sum(sizes) + 40

    ch_sql(spark, "ALTER TABLE sp_t UPDATE v = v + 1 WHERE id % 3 = 0")
    model = {k: v + 1 if k % 3 == 0 else v for k, v in model.items()}
    ch_sql(spark, "ALTER TABLE sp_t DELETE WHERE id % 4 = 1")
    model = {k: v for k, v in model.items() if k % 4 != 1}
    rows = ch_sql(spark, "SELECT id, v FROM sp_t").collect()
    assert sorted((r[0], r[1]) for r in rows) == sorted(model.items())


def test_block_number_is_the_inserted_block(spark):
    ch_sql(spark, "CREATE TABLE sp_t (id UInt64, v Float64) "
                  "ENGINE = MergeTree ORDER BY id")
    ch_sql(spark, f"INSERT INTO sp_t VALUES {_values([(1, 1.0), (2, 2.0)])}")
    ch_sql(spark, "INSERT INTO sp_t VALUES "
                  + _values([(i, 0.5) for i in range(10, 15)]))
    rows = ch_sql(spark, "SELECT blockNumber() AS b, count() AS n FROM sp_t "
                         "GROUP BY b ORDER BY b").collect()
    assert [tuple(r) for r in rows] == [(0, 2), (1, 5)]


def test_optimize_merges_without_spark_jobs(spark):
    ch_sql(spark, "CREATE TABLE sp_t (id UInt64, v Float64) "
                  "ENGINE = MergeTree ORDER BY id")
    ch_sql(spark, "CREATE TABLE sp_sel (id UInt64, v Float64) "
                  "ENGINE = MergeTree ORDER BY id")
    ch_sql(spark, f"INSERT INTO sp_t VALUES {_values([(1, 1.0), (2, 2.0), (3, 3.0)])}")
    ch_sql(spark, "INSERT INTO sp_t SELECT id, v FROM sp_sel WHERE 0")
    ch_sql(spark, f"INSERT INTO sp_t VALUES {_values([(4, 4.0), (5, 5.0)])}")
    ch_sql(spark, "ALTER TABLE sp_t DELETE WHERE id = 2")
    assert _jobs_of(spark, "OPTIMIZE TABLE sp_t FINAL") == 0
    ch_sql(spark, f"INSERT INTO sp_t VALUES {_values([(6, 6.0)])}")
    assert _parts(spark, "sp_t") == (
        [("all_0_0_0", 3, 48, False, 4),
         ("all_1_1_0", 0, 0, False, 2),
         ("all_2_2_0", 2, 32, False, 4),
         ("all_0_2_1", 4, 64, True, 1),
         ("all_3_3_0", 1, 16, True, 1)],
        [(2, 80, 5)],
    )
    # a second merge folds the merged part and the new block into level 2;
    # a table with one visible part has nothing to merge
    assert _jobs_of(spark, "OPTIMIZE TABLE sp_t FINAL") == 0
    ch_sql(spark, f"INSERT INTO sp_sel VALUES {_values([(9, 9.0)])}")
    assert _jobs_of(spark, "OPTIMIZE TABLE sp_sel FINAL") == 0
    assert _parts(spark, "sp_t") == (
        [("all_0_0_0", 3, 48, False, 4),
         ("all_1_1_0", 0, 0, False, 2),
         ("all_2_2_0", 2, 32, False, 4),
         ("all_0_2_1", 4, 64, False, 4),
         ("all_3_3_0", 1, 16, False, 4),
         ("all_0_3_2", 5, 80, True, 1)],
        [(1, 80, 5)],
    )
    assert _parts(spark, "sp_sel") == ([("all_0_0_0", 1, 16, True, 1)],
                                       [(1, 16, 1)])


def test_optimize_unique_key_table_without_spark_jobs(spark):
    ch_sql(spark, "CREATE TABLE sp_u (id UInt64, s String) "
                  "ENGINE = CnchMergeTree ORDER BY id UNIQUE KEY id")
    ch_sql(spark, "INSERT INTO sp_u VALUES (1, 'a'), (2, 'b')")
    ch_sql(spark, "INSERT INTO sp_u VALUES (2, 'c'), (3, 'd'), (3, 'e')")
    assert _jobs_of(spark, "OPTIMIZE TABLE sp_u FINAL") == 0
    assert _parts(spark, "sp_u") == (
        [("all_0_0_0", 2, 32, False, 4),
         ("all_1_1_0", 2, 32, False, 4),
         ("all_0_1_1", 3, 48, True, 1)],
        [(1, 48, 3)],
    )
    rows = ch_sql(spark, "SELECT id, s FROM sp_u ORDER BY id").collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "c"), (3, "e")]
