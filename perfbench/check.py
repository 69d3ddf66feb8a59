"""Output check: engine rows against DuckDB SQL twins.

The comparison is the rule of ``tools/check_oracle.py``: same column
names (in any order), same row count, and the same order-insensitive
value hash over canonicalised values.
"""

from __future__ import annotations

from tools.check_oracle import value_hash


def compare(
    got_cols: list[str], got_rows: list[tuple], want_cols: list[str], want_rows: list[tuple]
) -> str | None:
    """``None`` when the two results agree, else what differs."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != {len(want_rows)}"
    if value_hash(got_rows, list(got_cols)) != value_hash(want_rows, list(want_cols)):
        return "value-hash mismatch"
    return None


def derive(sql: str, anchor: str, replacement: str) -> str:
    """An oracle twin derived by replacing one anchor in a registry
    oracle; fails loudly when the anchor is missing or ambiguous."""
    if sql.count(anchor) != 1:
        raise AssertionError(f"oracle anchor found {sql.count(anchor)} times: {anchor!r}")
    return sql.replace(anchor, replacement)


def duckdb_views(con, data_dir: str, tables) -> None:
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")


def run_sql(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
