"""Output checks, run once per run outside the timed region.

Batch entries are compared with their ``oracle_sql()`` text on DuckDB over
the same parquet; request responses with a DuckDB rendering of the deployed
query over stored history, the rows inserted so far and the request row.
"""

from __future__ import annotations

import math
import os

import duckdb

#: the deployed feature query; ``_SERVE_ORACLE`` below is its DuckDB twin
DEPLOY_SQL = (
    "DEPLOY perfbench_req SELECT event_id, user_id, "
    "sum(value) OVER w1 AS sum_v, count(value) OVER w1 AS cnt_v, "
    "avg(value) OVER w2 AS avg_v, max(value) OVER w2 AS max_v, "
    "customer.c_acctbal AS acctbal, customer.c_mktsegment AS segment "
    "FROM events LAST JOIN customer ON events.user_id = customer.c_custkey "
    "WINDOW w1 AS (PARTITION BY user_id ORDER BY ts "
    "ROWS_RANGE BETWEEN 1d PRECEDING AND CURRENT ROW), "
    "w2 AS (PARTITION BY user_id ORDER BY ts "
    "ROWS BETWEEN 100 PRECEDING AND CURRENT ROW)"
)

_SERVE_ORACLE = """
    WITH h AS (
      SELECT event_id, ts, user_id, value FROM events WHERE user_id = $u
      UNION ALL
      SELECT event_id, ts, user_id, value FROM inserted WHERE user_id = $u
      UNION ALL
      SELECT $id, make_timestamp($ts_ms * 1000), $u, $v
    ), w AS (
      SELECT event_id, user_id,
             sum(value) OVER w1 AS sum_v, count(value) OVER w1 AS cnt_v,
             avg(value) OVER w2 AS avg_v, max(value) OVER w2 AS max_v
      FROM h
      WINDOW w1 AS (ORDER BY ts RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW),
             w2 AS (ORDER BY ts ROWS BETWEEN 100 PRECEDING AND CURRENT ROW)
    )
    SELECT w.*, c.c_acctbal AS acctbal, c.c_mktsegment AS segment
    FROM w LEFT JOIN customer c ON c.c_custkey = w.user_id
    WHERE w.event_id = $id
"""

_SERVE_COLS = ("event_id", "user_id", "sum_v", "cnt_v", "avg_v", "max_v", "acctbal", "segment")


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6) + 0.0
    if v is None or isinstance(v, (int, str, bool)):
        return v
    return str(v)


def _canon(cols, rows) -> list:
    key = lambda t: tuple(repr(v) for v in t)  # noqa: E731
    return sorted((tuple(_norm(r[c]) for c in cols) for r in rows), key=key)


def batch_matches(con, oracle_sql: str, columns, rows) -> bool:
    """True when Spark's ``rows`` equal the oracle's rows as a multiset,
    with the same column names (doubles compared at 6 decimals)."""
    table = con.execute(oracle_sql).fetch_arrow_table()
    cols = sorted(columns)
    if cols != sorted(table.column_names) or len(rows) != table.num_rows:
        return False
    return _canon(cols, [r.asDict() for r in rows]) == _canon(cols, table.to_pylist())


def serve_matches(con, request: tuple, response: list, inserted: list) -> bool:
    """True when one served response equals DuckDB over history, the rows
    inserted so far (``inserted``: event tuples) and the request row.
    ``request`` is ``(event_id, ts_ms, user_id, value)``."""
    if len(response) != 1:
        return False
    con.execute("CREATE OR REPLACE TEMP TABLE inserted "
                "(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE)")
    if inserted:
        con.executemany(
            "INSERT INTO inserted VALUES (?, make_timestamp(? * 1000), ?, ?)", inserted
        )
    eid, ts_ms, user, value = request
    want = con.execute(_SERVE_ORACLE, {"id": eid, "ts_ms": ts_ms, "u": user, "v": value}).fetchall()
    got = response[0].asDict()
    if len(want) != 1:
        return False
    for name, expect in zip(_SERVE_COLS, want[0]):
        actual = got[name]
        if isinstance(expect, float) or isinstance(actual, float):
            if expect is None or actual is None or not math.isclose(actual, expect, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif actual != expect:
            return False
    return True
