"""Correctness checks, run outside the timed section.

Streaming workloads: DuckDB over the net multiset of the chunks the stream
applied (rows grouped on every column, weights summed, zero-weight rows
dropped), the same query written in SQL. Batch workload: the registry's
own DuckDB oracle per query. Both sides are normalized as in
``tests/oracle.py``: columns sorted by name, rows sorted, floats rounded to
1e-6.
"""

from __future__ import annotations

import math

import duckdb

from .gen import chunk_path

Q10_TOP20 = """
SELECT c_custkey, c_name,
       sum(li.w * o.w * c.w * n.w * l_extendedprice::DECIMAL(12,4)
           * (1 - l_discount)::DECIMAL(12,4))::DOUBLE AS revenue,
       c_acctbal, n_name
FROM lineitem li JOIN orders o ON l_orderkey = o_orderkey
JOIN customer c ON o_custkey = c_custkey
JOIN nation n ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-10-01' AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
HAVING sum(li.w * o.w * c.w * n.w) > 0
ORDER BY revenue DESC, c_custkey LIMIT 20
"""

LEADERBOARD_TOP5 = """
WITH v AS (
  SELECT n_name, c_custkey,
         sum(o.w * c.w * n.w)::BIGINT AS n_orders,
         sum(o.w * c.w * n.w * o_totalprice::DECIMAL(12,4))::DOUBLE AS revenue
  FROM orders o JOIN customer c ON o_custkey = c_custkey
  JOIN nation n ON c_nationkey = n_nationkey
  GROUP BY n_name, c_custkey HAVING sum(o.w * c.w * n.w) > 0),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY n_name ORDER BY n_orders DESC, revenue DESC, c_custkey) AS rn
  FROM v),
agg AS (
  SELECT n_name, count(*)::BIGINT AS members, sum(revenue)::DOUBLE AS top_revenue
  FROM r WHERE rn <= 3 GROUP BY n_name)
SELECT n_name, members, top_revenue FROM agg ORDER BY top_revenue DESC, n_name LIMIT 5
"""


def net_multiset(chunk_dir: str, n_chunks: int, rel_columns: dict) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per relation over the net multiset
    of chunks ``0 .. n_chunks-1``; ``w`` is each distinct row's multiplicity."""
    con = duckdb.connect()
    files = ", ".join(f"'{chunk_path(chunk_dir, i)}'" for i in range(n_chunks))
    con.execute(f"CREATE TABLE log AS SELECT * FROM read_parquet([{files}])")
    for rel, cols in rel_columns.items():
        cl = ", ".join(cols)
        con.execute(
            f"CREATE VIEW {rel} AS SELECT {cl}, sum(weight) AS w FROM log "
            f"WHERE rel = '{rel}' GROUP BY {cl} HAVING sum(weight) <> 0"
        )
    return con


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_val(x) for x in v)
    if hasattr(v, "item"):
        return _norm_val(v.item())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(pdf) -> tuple[list[str], list[tuple]]:
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(_norm_val(v) for v in t) for t in pdf.itertuples(index=False, name=None)]
    return list(pdf.columns), sorted(rows, key=lambda r: tuple(str(x) for x in r))


def mismatch(got, want) -> str | None:
    """None when two pandas frames hold the same normalized rows, else why not."""
    (gc, gr), (wc, wr) = normalize(got), normalize(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for a, b in zip(gr, wr):
        if any(
            not (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6) if isinstance(x, float) and isinstance(y, float) else x == y)
            for x, y in zip(a, b)
        ):
            return f"row {a} != {b}"
    return None


def table_views(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
