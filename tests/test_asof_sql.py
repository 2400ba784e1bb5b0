"""Pin the SQL-string-built asof_join to DuckDB's ASOF JOIN.

asof_join builds its condition / distance / dedup-window expressions
as SQL strings parsed JVM-side (guide §7.3: the Column API cost ~595
py4j round-trips per q13 build). The reference is an independent
DuckDB spelling over the same frames handed over as Arrow: one
``ASOF LEFT JOIN`` per side of the direction (``nearest`` takes the
closer of the backward and forward matches), the tolerance applied to
the matched distance, and the engine's documented tie-break at equal
distance (the lexicographically-largest right payload row). Every
direction × tolerance × left_key combination runs on data with ties,
out-of-tolerance rows, and unmatched left rows. The test names predate
the DuckDB reference and are kept so the test ids stay stable.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from model_presto_spark.operators.asof import asof_join
from model_presto_spark.testing import rows_to_multiset


def _naive(tbl: pa.Table) -> pa.Table:
    """Timestamps as naive UTC wall time, so both engines hand back
    the same Python values whatever the local time zone."""
    return tbl.cast(
        pa.schema(
            [
                pa.field(f.name, pa.timestamp("us"))
                if pa.types.is_timestamp(f.type)
                else f
                for f in tbl.schema
            ]
        )
    )


def _duckdb_asof(left, right, on, left_ts, right_ts, tolerance=None,
                 direction="backward", suffix="_right", left_key=None):
    """DuckDB ASOF JOIN reference. Left rows are told apart by
    ``probe_id`` (unique in these fixtures), whatever ``left_key``
    the engine call declares."""
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in right.columns if c not in keys]
    out = {c: (c + suffix if c in left.columns else c) for c in payload}
    eq = " AND ".join(f"l.{k} = r.{k}" for k in keys)
    sides = {"backward": [">="], "forward": ["<="], "nearest": [">=", "<="]}
    cands = " UNION ALL ".join(
        f"SELECT l.probe_id, "
        + ", ".join(f"r.{c} AS {out[c]}" for c in payload)
        + f" FROM l ASOF LEFT JOIN r ON {eq} AND l.{left_ts} {op} r.{right_ts}"
        for op in sides[direction]
    )
    r_ts = f"c.{out[right_ts]}"
    dist = f"abs(epoch_us({r_ts}) - epoch_us(l.{left_ts}))"
    within = (
        "TRUE" if tolerance is None
        else f"{r_ts} BETWEEN l.{left_ts} - INTERVAL '{tolerance}'"
        f" AND l.{left_ts} + INTERVAL '{tolerance}'"
    )
    ties = ", ".join(f"c.{out[c]} DESC" for c in payload)
    # One DuckDB thread: the query runs on the calling thread. With
    # worker threads this ASOF query over registered Arrow tables hung
    # once inside the full test run (main thread in execute, a worker
    # thread outside Python); the frames are a dozen rows.
    con = duckdb.connect(config={"threads": 1})
    con.register("l", _naive(left.toArrow()))
    con.register("r", _naive(right.toArrow()))
    res = con.execute(
        f"""
        WITH c AS ({cands}),
        pick AS (
            SELECT c.*, row_number() OVER (
                PARTITION BY c.probe_id ORDER BY {dist}, {ties}) AS rn
            FROM c JOIN l USING (probe_id)
            WHERE {r_ts} IS NOT NULL AND {within}
        )
        SELECT l.*, {", ".join(f"pick.{out[c]}" for c in payload)}
        FROM l LEFT JOIN pick ON pick.probe_id = l.probe_id AND pick.rn = 1
        """
    )
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    con.close()
    return cols, rows


def _assert_matches_duckdb(got, left, right, **kwargs):
    want_cols, want_rows = _duckdb_asof(left, right, **kwargs)
    assert got.columns == want_cols
    got_rows = [tuple(r.values()) for r in _naive(got.toArrow()).to_pylist()]
    assert rows_to_multiset(got.columns, got_rows) == rows_to_multiset(
        want_cols, want_rows
    )


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    # left: per-user probe timestamps, incl. a user with no right rows
    # (left-outer null path) and one whose matches are out of tolerance.
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T12:00:00")),
            (2, 10, _ts("2024-01-01T18:00:00")),
            (3, 20, _ts("2024-01-02T00:00:00")),
            (4, 30, _ts("2024-01-01T00:00:00")),  # no right rows for user 30
            (5, 20, _ts("2024-01-05T00:00:00")),  # far from any user-20 row
        ],
        "probe_id INT, user_id INT, ts TIMESTAMP",
    )
    # right: observations, incl. exact-distance ties (two rows
    # equidistant from a probe) to exercise the payload tie-break, and
    # a colliding column name ('ts') to exercise the rename path.
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01T11:00:00"), 1.0, "a"),
            (10, _ts("2024-01-01T11:30:00"), 2.0, "b"),
            (10, _ts("2024-01-01T12:30:00"), 3.0, "c"),
            # tie for probe 2 @18:00 under 'nearest': 17:00 and 19:00
            (10, _ts("2024-01-01T17:00:00"), 4.0, "d"),
            (10, _ts("2024-01-01T19:00:00"), 5.0, "e"),
            (20, _ts("2024-01-01T23:00:00"), 6.0, "f"),
            (20, _ts("2024-01-02T01:00:00"), 7.0, "g"),
        ],
        "user_id INT, ts TIMESTAMP, value DOUBLE, tag STRING",
    )
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, "90 MINUTES"])
@pytest.mark.parametrize("left_key", ["probe_id", None])
def test_asof_sql_matches_column_reference(
    frames, direction, tolerance, left_key
):
    left, right = frames
    kwargs = dict(
        on="user_id", left_ts="ts", right_ts="ts",
        tolerance=tolerance, direction=direction, left_key=left_key,
    )
    _assert_matches_duckdb(asof_join(left, right, **kwargs), left, right, **kwargs)


def test_asof_multi_key_and_unmatched(frames, spark):
    left, right = frames
    # multi-column equality key: (user_id, shard)
    l2 = left.withColumn("shard", F.col("probe_id") % 2)
    r2 = right.withColumn("shard", F.lit(1))
    kwargs = dict(
        on=["user_id", "shard"], left_ts="ts", right_ts="ts",
        tolerance="1 DAY", direction="backward", left_key="probe_id",
    )
    got = asof_join(l2, r2, **kwargs)
    _assert_matches_duckdb(got, l2, r2, **kwargs)
    # every left row survives (left-outer)
    assert got.count() == l2.count()
