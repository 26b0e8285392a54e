"""Output checks against DuckDB.

Query results follow ``scripts/drive_contract.py``'s rules: the same column
names, the same dtype family per column, the same row count, and the same
sorted rows once every value is stringified in column-name order. Tables a
lakehouse run publishes are compared as multisets (``EXCEPT ALL`` both
ways) against a DuckDB model of the same inputs, replayed from the same
seeded commit log.

A check returns None when the result matches and a one-line reason when it
does not; the caller counts a mismatch as a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from f1_lakehouse_spark.quality.dtype_lint import family_mismatches
from f1_lakehouse_spark.tables import TABLE_NAMES, table_path


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every input table of ``sf_dir`` as a view."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _sorted_strings(cols: list[str], rows) -> list[list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([str(r[i]) for i in order] for r in rows)


class Oracle:
    """DuckDB answers over one input directory.

    The inputs are read-only, so an answer depends only on the SQL text and
    the input files: answers are kept in ``cache_dir`` (keyed by both) and
    DuckDB runs once per oracle query per checkout, not once per run."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        sizes = sorted((f, os.path.getsize(os.path.join(sf_dir, f))) for f in os.listdir(sf_dir))
        self._inputs = json.dumps([os.path.basename(sf_dir), sizes])
        self._con = None

    def answer(self, sql: str) -> dict:
        """{"cols", "types", "rows"}: rows stringified and sorted as
        :func:`compare` needs them."""
        key = hashlib.sha256(f"{self._inputs}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        if self._con is None:
            self._con = connect(self.sf_dir)
        rel = self._con.sql(sql)
        cols = list(rel.columns)
        out = {
            "cols": cols,
            "types": [str(t) for t in rel.types],
            "rows": _sorted_strings(cols, rel.fetchall()),
        }
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out


def compare(cols: list[str], dtypes: dict[str, str], rows, oracle: dict) -> str | None:
    """Compare a result (column names, Spark dtype strings, row tuples)
    with an :meth:`Oracle.answer`."""
    dcols = oracle["cols"]
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    fams = family_mismatches(dtypes, dict(zip(dcols, oracle["types"])))
    if fams:
        return f"dtype families differ: {fams}"
    if len(rows) != len(oracle["rows"]):
        return f"{len(rows)} rows != oracle {len(oracle['rows'])}"
    mine = _sorted_strings(cols, rows)
    if mine != oracle["rows"]:
        diff = next((a, b) for a, b in zip(mine, oracle["rows"]) if a != b)
        return f"values differ, first: {diff}"
    return None


def compare_table(
    con: duckdb.DuckDBPyConnection, model_sql: str, parquet_dir: str, cols: list[str]
) -> str | None:
    """Compare the parquet files under ``parquet_dir`` with ``model_sql`` as
    multisets of rows over ``cols``."""
    sel = ", ".join(cols)
    actual = f"SELECT {sel} FROM read_parquet('{parquet_dir}/*.parquet')"
    model = f"SELECT {sel} FROM ({model_sql})"
    missing = con.sql(f"SELECT count(*) FROM ({model} EXCEPT ALL {actual})").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM ({actual} EXCEPT ALL {model})").fetchone()[0]
    if missing or extra:
        return f"{parquet_dir}: {missing} model rows missing, {extra} unexpected rows"
    return None


def copilot_sql(sql: str) -> str:
    """The copilot's guarded statement: its SQL under the 200-row cap."""
    return f"SELECT * FROM ({sql}) AS safe_view LIMIT 200"


# DuckDB twins of the analytics.py dashboard functions, at one year.
DASHBOARD_SQL = {
    "session_date": (
        "SELECT strftime(MIN(l_shipdate), '%Y-%m-%d') AS session_date "
        "FROM lineitem WHERE year(l_shipdate) = {year}"
    ),
    "kpis": (
        "SELECT COUNT(*) AS n_lines, COUNT(DISTINCT l_suppkey) AS n_suppliers, "
        "COUNT(DISTINCT l_partkey) AS n_parts, MIN(l_extendedprice) AS best_price "
        "FROM lineitem WHERE year(l_shipdate) = {year}"
    ),
    "fastest_topk": (
        "SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice FROM lineitem "
        "WHERE year(l_shipdate) = {year} "
        "ORDER BY l_extendedprice, l_orderkey, l_linenumber LIMIT 50"
    ),
    "team_summary_view": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
        "MIN(l_extendedprice) AS best_price FROM lineitem "
        "WHERE year(l_shipdate) = {year} GROUP BY l_returnflag, l_linestatus"
    ),
    "pace_curve": (
        "SELECT l_linenumber, MEDIAN(l_quantity) AS median_qty FROM lineitem "
        "WHERE year(l_shipdate) = {year} GROUP BY l_linenumber"
    ),
}

# DuckDB model of plans/medallion.py's gold layer over the input lineitem.
_GOLD_SUPPLIER = """
WITH timed AS (
  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, l_returnflag,
         l_linestatus, l_suppkey, l_discount, l_tax,
         CASE WHEN l_discount > 0 THEN l_extendedprice * (1 - l_discount) END AS net_price
  FROM lineitem
)
SELECT ship_year, l_returnflag, l_linestatus, l_suppkey,
       COUNT(*) AS lines_total,
       SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS discounted_lines,
       SUM(CASE WHEN l_tax > 0 THEN 1 ELSE 0 END) AS taxed_lines,
       MIN(net_price) AS best_price,
       1 AS best_price_lines
FROM timed WHERE net_price IS NOT NULL
GROUP BY ship_year, l_returnflag, l_linestatus, l_suppkey
"""
MEDALLION_GOLD = {
    "gold.supplier_summary": _GOLD_SUPPLIER,
    "gold.flag_summary": f"""
        SELECT ship_year, l_returnflag, SUM(lines_total) AS lines_total,
               SUM(discounted_lines) AS discounted_lines,
               SUM(taxed_lines) AS taxed_lines, MIN(best_price) AS best_price,
               COUNT(*) AS supplier_groups
        FROM ({_GOLD_SUPPLIER}) WHERE l_returnflag IN ('A', 'R')
        GROUP BY ship_year, l_returnflag""",
}


def streaming_model(landing_glob: str) -> dict[str, str]:
    """DuckDB model of streaming_medallion_publish after every landed slice:
    silver keeps each user's latest event by (ts, event_id), gold counts
    users and sums values per event type."""
    silver = f"""
        SELECT user_id, ts, event_id, event_type, value FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM read_parquet('{landing_glob}')) WHERE rn = 1"""
    gold = f"""
        SELECT event_type, COUNT(*) AS n_users,
               SUM(CAST(value AS DECIMAL(28, 9))) AS total_value
        FROM ({silver}) GROUP BY event_type"""
    return {"silver": silver, "gold": gold}
