"""Shared oracle-comparison helpers (used by tests/ and tools/)."""

from __future__ import annotations

import decimal
import math
import os

import duckdb

from model_presto_spark.io import TABLES, table_path


def canon(v) -> str:
    """Type-sensitive canonical string for one cell (order-insensitive
    hashing). A hash of Arrow values tells a DuckDB decimal128 SUM from
    a Spark BIGINT even when the numbers are equal, so every value
    carries a type tag."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        if v == int(v) and abs(v) < 1e15:
            return "f:" + str(int(v))
        return "f:" + repr(v)
    if isinstance(v, int):
        return "i:" + str(v)
    return str(v)


def rows_to_multiset(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare_query(spark, con, spec, sf_dir: str) -> list[str]:
    """Run one QuerySpec on both engines; return list of problems."""
    sdf = spec.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        return []  # rows-only check: ran without error
    ores = con.execute(spec.oracle).fetchall()
    ocols = [d[0] for d in con.description]
    problems = []
    if len(srows) != len(ores):
        problems.append(f"rowcount spark={len(srows)} oracle={len(ores)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    if not problems:
        sm = rows_to_multiset(scols, srows)
        om = rows_to_multiset(ocols, ores)
        if sm != om:
            diffs = [(a, b) for a, b in zip(sm, om) if a != b]
            problems.append(
                f"values differ ({len(diffs)} rows), first: {diffs[:2]}"
            )
    return problems


def _plain(v):
    """Engine value -> plain Python: structs (Spark Row, DuckDB dict)
    become tuples, NaN becomes the string "NaN" so it compares equal."""
    if isinstance(v, dict):
        return tuple(_plain(x) for x in v.values())
    if isinstance(v, tuple):  # pyspark Row
        return tuple(_plain(x) for x in v)
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def eval_fragments(df, spark_sql: str, duck_sql: str, key: str = "id"):
    """Evaluate one expression per row of ``df`` in both engines: the
    Spark SQL fragment over ``df``, the DuckDB fragment over the same
    rows handed over as Arrow (table ``t``). Returns two
    ``{key: value}`` dicts of plain Python values (see ``_plain``)."""
    con = duckdb.connect()
    con.register("t", df.toArrow())
    spark_rows = df.selectExpr(key, f"{spark_sql} AS v").collect()
    duck_rows = con.execute(f"SELECT {key}, {duck_sql} AS v FROM t").fetchall()
    con.close()
    return (
        {r[0]: _plain(r[1]) for r in spark_rows},
        {r[0]: _plain(r[1]) for r in duck_rows},
    )
