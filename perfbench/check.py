"""Result comparison for the correctness checks.

A result and its oracle are compared as their sorted column names and
their rows normalized and sorted by ``tools.parity.frame_to_rows``,
the engine's own Spark-versus-DuckDB parity rule: numbers as rounded
floats (integral floats as ints, NaN as NULL), booleans as 0/1, dates
and timestamps as text. Two frames match exactly when they hold the
same multiset of normalized rows.

Large tables are compared in DuckDB first: rows present on both sides
exactly cancel (``EXCEPT ALL``), and only the rows left over on either
side are normalized and compared. Normalizing is a function of the
row, so this gives the same verdict as normalizing everything.
"""

from __future__ import annotations

from tools.parity import frame_to_rows


def rows(df) -> tuple[list[str], list[tuple]]:
    """Comparable form of the pandas frame ``df``."""
    return sorted(df.columns), frame_to_rows(df)


def same_rows(con, relation: str, sql: str) -> bool:
    """Whether the DuckDB relation ``relation`` holds the rows of the
    query ``sql`` on the connection ``con``."""
    got = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]
    want = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()]
    if sorted(got) != sorted(want):
        return False
    cols = ", ".join('"' + c.replace('"', '""') + '"' for c in sorted(got))
    con.execute(f"CREATE OR REPLACE TEMP TABLE expected AS SELECT {cols} FROM ({sql})")
    a, b = f"SELECT {cols} FROM {relation}", "SELECT * FROM expected"
    only_got = con.execute(f"{a} EXCEPT ALL {b}").df()
    only_want = con.execute(f"{b} EXCEPT ALL {a}").df()
    return rows(only_got) == rows(only_want)


def parquet_relation(path: str) -> str:
    """DuckDB relation over a Spark-written parquet directory."""
    return f"read_parquet('{path}/*.parquet')"
