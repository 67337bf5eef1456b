"""Reference answers and the comparison the correctness gate uses.

Declared queries are checked against their ``oracle`` SQL on DuckDB over
the same parquet tables; graph operations against DuckDB over
``graph.derive.graph_cte()``. Queries without oracle SQL are checked
against a committed hash of their sorted output (``expected.json``).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

from neo4j_enterprise_spark.catalog import TABLES
from neo4j_enterprise_spark.graph.derive import graph_cte

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

# Relative tolerance for float cells: the plans aggregate in DECIMAL and
# cast once, so most floats match exactly; vector scores may differ in the
# last bits between the JVM and DuckDB.
REL_TOL = 1e-9


def _cell(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def normalize(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples ordered by lower-cased column name, then sorted, with
    numbers, dates and nested values reduced to comparable Python values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(_cell(row[i]) for i in order) for row in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= REL_TOL * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def same_result(cols_a, rows_a, cols_b, rows_b) -> bool:
    if sorted(c.lower() for c in cols_a) != sorted(c.lower() for c in cols_b):
        return False
    if len(rows_a) != len(rows_b):
        return False
    na, nb = normalize(cols_a, rows_a), normalize(cols_b, rows_b)
    return all(_same(x, y) for x, y in zip(na, nb))


def result_hash(columns: list[str], rows) -> str:
    payload = json.dumps(
        [sorted(c.lower() for c in columns), normalize(columns, rows)], default=str
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def load_expected() -> dict[str, str]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


class Oracle:
    """DuckDB over the workload's parquet tables, with the derived graph
    materialized once as ``g_nodes`` / ``g_rels``."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(f"CREATE TABLE g_nodes AS {graph_cte(rels=False)} SELECT * FROM nodes")
        self.con.execute(f"CREATE TABLE g_rels AS {graph_cte(nodes=False)} SELECT * FROM rels")

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()
