"""LocalRelation-backed tiny DataFrames.

``spark.createDataFrame(rows, schema)`` on plain Python rows builds an
RDD-backed plan: every downstream ``collect()`` launches a full Spark job
(task scheduling + pickle round trip), ~0.3 s on local[32].  The engine
surface returns hundreds of such tiny frames (SHOW/DDL/probe outputs), so
that overhead dominated the sub-second bench tail (guide §1.2 — remove
per-operation work that isn't the query).

``local_df`` renders the same rows as a ``SELECT ... FROM VALUES`` SQL
statement instead: Catalyst folds it to a LocalRelation, and ``collect()``
short-circuits without launching a job (~0.016 s).  Rows and schema are
rendered with explicit per-cell CASTs, so the result schema and values are
EXACTLY those of the createDataFrame equivalent; anything the fast path
cannot prove it renders faithfully (complex types, unknown cells) falls
back to ``spark.createDataFrame`` unchanged.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import math

from pyspark.sql import DataFrame, SparkSession

_SIMPLE_TYPES = {
    "string", "boolean", "tinyint", "smallint", "int", "integer",
    "bigint", "long", "float", "real", "double", "date", "timestamp",
    "timestamp_ntz", "byte", "short",
}


def _type_ok(tl: str) -> bool:
    """Scalar, decimal, or ONE level of array/map over scalars."""
    if tl in _SIMPLE_TYPES or (tl.startswith("decimal") and "(" in tl):
        return True
    if tl.startswith("array<") and tl.endswith(">"):
        return tl[6:-1].strip() in _SIMPLE_TYPES
    if tl.startswith("map<") and tl.endswith(">"):
        inner = tl[4:-1].split(",")
        return (
            len(inner) == 2
            and inner[0].strip() in _SIMPLE_TYPES
            and inner[1].strip() in _SIMPLE_TYPES
        )
    return False


def _split_ddl(schema: str) -> list[tuple[str, str]] | None:
    """Parse 'name type, name type' (depth-0 commas); None if unsupported."""
    fields: list[tuple[str, str]] = []
    depth = 0
    item = []
    items: list[str] = []
    for ch in schema:
        if ch in "(<[":
            depth += 1
        elif ch in ")>]":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(item))
            item = []
        else:
            item.append(ch)
    items.append("".join(item))
    for it in items:
        parts = it.strip().split(None, 1)
        if len(parts) != 2:
            return None
        name, typ = parts[0].strip().strip("`"), parts[1].strip()
        tl = typ.lower().replace(" ", "")
        if not _type_ok(tl):
            return None
        if not tl.startswith("decimal"):
            typ = tl
        fields.append((name, typ))
    return fields


def _schema_to_fields(schema) -> list[tuple[str, str]] | None:
    if isinstance(schema, str):
        return _split_ddl(schema)
    try:  # StructType
        fields = []
        for f in schema.fields:
            t = f.dataType.simpleString().replace(" ", "")
            if not _type_ok(t):
                return None
            fields.append((f.name, t))
        return fields
    except AttributeError:
        return None


def _lit(v, t: str | None = None) -> str | None:
    """SQL literal for one cell; None = cannot render faithfully."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # uniform CAST-from-string cells so the inline table's column type
        # unifies to DOUBLE for any mix of finite/NaN/Infinity/NULL values
        # (string->double casts are correctly rounded, and repr() is the
        # shortest round-tripping decimal form)
        if math.isnan(v):
            s = "NaN"
        elif math.isinf(v):
            s = "Infinity" if v > 0 else "-Infinity"
        else:
            s = repr(v)
        return f"CAST('{s}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            return None  # aware datetimes: let createDataFrame convert
        return "TIMESTAMP '" + v.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    if isinstance(v, datetime.date):
        return "DATE '" + v.isoformat() + "'"
    if isinstance(v, decimal.Decimal):
        return "'" + str(v) + "'"
    if isinstance(v, (list, tuple)):
        elems = [_lit(x) for x in v]
        if any(e is None for e in elems) or any(
            isinstance(x, (list, tuple, dict)) for x in v
        ):
            return None
        arr = "array(" + ", ".join(elems) + ")"
        # per-cell CAST so inline-table column types unify even when some
        # rows hold empty arrays (array() alone is ARRAY<VOID>)
        return f"CAST({arr} AS {t})" if t else arr
    if isinstance(v, dict):
        kvs = []
        for key, val in v.items():  # insertion order, like createDataFrame
            lk, lv = _lit(key), _lit(val)
            if lk is None or lv is None or isinstance(
                val, (list, tuple, dict)
            ):
                return None
            kvs.extend((lk, lv))
        mp = "map(" + ", ".join(kvs) + ")"
        return f"CAST({mp} AS {t})" if t else mp
    return None


def local_df(spark: SparkSession, data, schema) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(data, schema)`` on tiny scalar
    row lists: builds a LocalRelation via SQL VALUES (collect = no job).
    Falls back to createDataFrame when the rows/schema are out of scope."""
    fields = _schema_to_fields(schema)
    rows = data if isinstance(data, list) else None
    if fields is not None and rows is not None:
        ncol = len(fields)
        # if(true, ..., NULL) keeps the analyzed schema NULLABLE like
        # createDataFrame's (a VALUES column with no NULLs would otherwise
        # analyze non-nullable); the optimizer still folds the whole thing
        # to a LocalRelation before execution
        names = ", ".join(
            f"if(true, CAST(c{i} AS {t}), NULL) AS `{n}`"
            for i, (n, t) in enumerate(fields)
        )
        if not rows:
            nulls = ", ".join(
                f"CAST(NULL AS {t}) AS `{n}`" for n, t in fields
            )
            return spark.sql(f"SELECT {nulls} LIMIT 0")
        rendered: list[str] = []
        ok = True
        for row in rows:
            try:
                cells = list(row)
            except TypeError:
                ok = False
                break
            if len(cells) != ncol:
                ok = False
                break
            lits = [_lit(c, fields[j][1]) for j, c in enumerate(cells)]
            if any(l is None for l in lits):
                ok = False
                break
            rendered.append("(" + ", ".join(lits) + ")")
        if ok:
            cols = ", ".join(f"c{i}" for i in range(ncol))
            return spark.sql(
                f"SELECT {names} FROM VALUES "
                + ", ".join(rendered)
                + f" AS t({cols})"
            )
    return spark.createDataFrame(data, schema)


@functools.lru_cache(maxsize=1)
def _rdd_scan_handles(jvm):
    """The JVM objects ``one_partition`` calls, looked up once per JVM:
    every step of a py4j class path is a round trip to the JVM."""
    execution = jvm.org.apache.spark.sql.execution
    return (
        jvm.scala.Option.empty(),
        getattr(getattr(execution, "LogicalRDD$"), "MODULE$"),
        jvm.org.apache.spark.sql.classic.Dataset,
    )


def one_partition(df: DataFrame) -> DataFrame:
    """``df`` as a scan of ONE partition that unions as its own partition.

    A VALUES or inline FORMAT INSERT block is a LocalRelation, which
    Spark slices ``spark.default.parallelism`` ways; a session table grown
    by such blocks would scan as 32 tasks per block.  ``coalesce(1)`` alone does
    not keep the blocks apart: it reports SinglePartition, and since
    Spark 4.1 a union whose children all report the same partitioning
    zips them into that many partitions, so every block of the table
    would land in partition 0.  Instead the block becomes an RDD scan
    over its own rows coalesced to one partition (no shuffle, no job),
    built by ``LogicalRDD.fromDataset`` so it keeps the block's
    statistics and reports unknown partitioning.  The block is planned
    here, once, rather than by every read of the table."""
    spark = df.sparkSession
    jdf = df._jdf
    no_coalescer, logical_rdd, dataset = _rdd_scan_handles(spark._jvm)
    rdd = jdf.queryExecution().toRdd().coalesce(1, False, no_coalescer, None)
    jds = dataset.ofRows(
        spark._jsparkSession, logical_rdd.fromDataset(rdd, jdf, False)
    )
    return DataFrame(jds, spark)
