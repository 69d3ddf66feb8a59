"""Self-test of the output check: a result with one changed value, or
with a dropped row, must fail; the same rows in another order pass."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.check import compare, derive, run_sql  # noqa: E402

COLS = ["id", "name", "x"]
ROWS = [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)]


def test_same_rows_in_any_order_and_column_order_pass():
    flipped = [tuple(reversed(r)) for r in reversed(ROWS)]
    assert compare(COLS, ROWS, list(reversed(COLS)), flipped) is None


def test_one_changed_value_fails():
    changed = [ROWS[0], (2, "b", 2.5000000001), ROWS[2]]
    assert compare(COLS, changed, COLS, ROWS) == "value-hash mismatch"


def test_dropped_row_fails():
    assert compare(COLS, ROWS[:2], COLS, ROWS) == "rows 2 != 3"


def test_renamed_column_fails():
    assert compare(["id", "name", "y"], ROWS, COLS, ROWS).startswith("columns")


def test_derive_needs_exactly_one_anchor():
    assert derive("SELECT 1 FROM t)", "FROM t)", "FROM u)") == "SELECT 1 FROM u)"
    with pytest.raises(AssertionError):
        derive("SELECT 1", "FROM t)", "FROM u)")


def test_check_catches_a_mutated_oracle_result():
    """End to end over DuckDB: a registry-style aggregate compared with
    itself passes; one perturbed value or one dropped row fails."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem AS SELECT i AS l_orderkey, i % 3 AS flag, "
        "CAST(i AS DOUBLE) / 7 AS price FROM range(100) t(i)"
    )
    sql = "SELECT flag, SUM(price) AS s, COUNT(*) AS n FROM lineitem GROUP BY flag"
    cols, rows = run_sql(con, sql)
    assert compare(cols, rows, *run_sql(con, sql)) is None
    bumped = [(rows[0][0], rows[0][1] + 1e-9, rows[0][2]), *rows[1:]]
    assert compare(cols, bumped, *run_sql(con, sql)) is not None
    assert compare(cols, rows[1:], *run_sql(con, sql)) is not None
