"""Expected query results: DuckDB runs the registry's oracle SQL over
the same parquet tables, and both sides are reduced to an
order-insensitive digest (row count + hash of the sorted, normalized
rows) with the repo's own oracle helpers in ``tests/oracle_utils.py``."""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from oracle_utils import TABLES, duckdb_conn, normalize  # noqa: E402,F401


def digest(df: pd.DataFrame) -> dict:
    cols, rows = normalize(df)
    h = hashlib.sha256(repr((cols, rows)).encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def expected(ops, sf_dir: str) -> dict[str, dict]:
    """Digest per op from its oracle SQL. Raises ``KeyError`` for an op
    without one: every benchmarked op must have an independent check."""
    from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL

    missing = [op for op in ops if op not in ORACLE_SQL]
    if missing:
        raise KeyError(f"ops without ORACLE_SQL: {missing}")
    con = duckdb_conn(sf_dir)
    try:
        return {op: digest(con.execute(ORACLE_SQL[op]).df()) for op in ops}
    finally:
        con.close()
