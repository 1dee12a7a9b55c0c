"""Reference computations in DuckDB, independent of Spark.

Each check reduces a result to (row count, order-insensitive digest)
so a job's output can be compared without collecting it: every column
is cast to text in DuckDB, the row's text is hashed and the hashes are
summed. Column names are compared separately.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import duckdb

from gen import CDC_COLUMNS

# The etl_sync job's SQL in Zeta syntax (run by the engine's Sql
# transform), and the same query in DuckDB's dialect. Zeta's
# DATEDIFF(a, b, 'DAY') is b - a in days.
ETL_ZETA_SQL = (
    "SELECT l_orderkey, l_linenumber, UCASE(l_shipmode) AS ship_mode, "
    "CONCAT_WS('-', l_returnflag, l_linestatus) AS status, "
    "YEAR(l_shipdate) AS ship_year, "
    "DATEDIFF(l_shipdate, l_commitdate, 'DAY') AS slip_days, "
    "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, "
    "l_quantity, l_comment FROM lineitem "
    "WHERE l_quantity > 5 AND l_discount <= 0.08")
ETL_COLUMNS = ["l_orderkey", "l_linenumber", "ship_mode", "status",
               "ship_year", "slip_days", "charge"]
ETL_DUCKDB_SQL = (
    "SELECT l_orderkey, l_linenumber, upper(l_shipmode) AS ship_mode, "
    "concat_ws('-', l_returnflag, l_linestatus) AS status, "
    "year(l_shipdate) AS ship_year, "
    "date_diff('day', l_shipdate, l_commitdate) AS slip_days, "
    "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge "
    "FROM read_parquet('{path}/*.parquet') "
    "WHERE l_quantity > 5 AND l_discount <= 0.08")


def digest(con, relation_sql: str, columns: list[str]) -> tuple[int, str]:
    text = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')"
                     for c in columns)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash(concat_ws(chr(31), "
        f"{text}))), 0) AS VARCHAR) FROM ({relation_sql})").fetchone()
    return int(n), h


def parquet_columns(con, path_glob: str) -> list[str]:
    return [d[0] for d in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{path_glob}')").fetchall()]


def etl_reference(con, input_path: str) -> tuple[int, str]:
    return digest(con, ETL_DUCKDB_SQL.format(path=input_path), ETL_COLUMNS)


def etl_output_ok(con, out_dir: str, expected: tuple[int, str]) -> bool:
    files = os.path.join(out_dir, "*.parquet")
    if not glob.glob(files):
        return False
    if sorted(parquet_columns(con, files)) != sorted(ETL_COLUMNS):
        return False
    return digest(con, f"SELECT * FROM read_parquet('{files}')",
                  ETL_COLUMNS) == expected


# The cdc_merge job's row mapping in Zeta syntax; the changelog columns
# __row_kind and __offset ride along. The same mapping in DuckDB.
CDC_ZETA_SQL = ("SELECT id, UCASE(name) AS name, balance, qty, "
                "CONCAT_WS('/', tier, 'eu') AS tier FROM changes")
CDC_DUCKDB_PROJECTION = ("id, upper(name) AS name, balance, qty, "
                         "concat_ws('/', tier, 'eu') AS tier")


def cdc_fold_sql(paths: list[str]) -> str:
    """The table a keyed changelog apply must produce: the last event
    per key by ``__offset`` decides, a ``-U`` sharing its offset with a
    ``+U`` of the same key loses to it, and a key whose last event is
    ``-D`` or ``-U`` (the old key of a key-changing update) is gone.
    The surviving rows go through the job's row mapping."""
    files = ", ".join(f"'{p}'" for p in paths)
    return (
        f"SELECT {CDC_DUCKDB_PROJECTION} FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY id ORDER BY __offset DESC, "
        f"CASE WHEN __row_kind = '-U' THEN 0 ELSE 1 END DESC) AS rn "
        f"FROM read_parquet([{files}])) "
        f"WHERE rn = 1 AND __row_kind IN ('+I', '+U')")


def cdc_version_ok(con, version_dir: str, changelog: list[str]) -> bool:
    files = os.path.join(version_dir, "*.parquet")
    if not glob.glob(files):
        return False
    if sorted(parquet_columns(con, files)) != sorted(CDC_COLUMNS):
        return False
    got = digest(con, f"SELECT * FROM read_parquet('{files}')",
                 CDC_COLUMNS)
    return got == digest(con, cdc_fold_sql(changelog), CDC_COLUMNS)


def load_selfcheck(root: str):
    """tools/selfcheck.py's canon/table_digest rules, loaded without
    letting the module's import-time sys.path edit outlive the load."""
    path = os.path.join(root, "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("perfbench_selfcheck",
                                                  path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def oracle_mismatch(con, selfcheck, oracle: str, cols: list[str],
                    rows: list[tuple]) -> str | None:
    """None when Spark's collected rows equal the DuckDB oracle's under
    selfcheck's rules, else a one-line reason."""
    res = con.execute(oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if len(rows) != len(d_rows):
        return f"rows {len(rows)} != {len(d_rows)}"
    if sorted(cols) != sorted(d_cols):
        return f"cols {sorted(cols)} != {sorted(d_cols)}"
    hs = selfcheck.table_digest(cols, rows)
    hd = selfcheck.table_digest(d_cols, d_rows)
    return None if hs == hd else f"digest {hs} != {hd}"


def connect() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": 1})
