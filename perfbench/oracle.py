"""Output checks that need an independent engine: DuckDB.

Two kinds of check come from the JVM side's result file:
  - `oracle`: a registered query's Spark result against its
    `SparkEntry.oracleSql`, run in DuckDB over the same generated tables;
  - `panel`: a store-backed dashboard panel against the same aggregate
    computed in DuckDB over the generator's ground truth.
"""
import math
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["events", "documents"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """Empty string when equal, else the first difference."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cells_equal(g, e):
                return f"col={c} row={i}: spark={g!r} oracle={e!r}"
    return ""


class Checker:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.views = None

    def _use_tables(self, tables: str):
        if self.views == tables:
            return
        for t in TABLES:
            p = Path(tables) / f"{t}.parquet"
            if p.exists():
                self.con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        self.views = tables

    def oracle(self, c: dict) -> str:
        got = pd.read_parquet(c["result"])
        self._use_tables(c["tables"])
        return frames_equal(got, self.con.execute(c["sql"]).fetchdf())

    def panel(self, c: dict) -> str:
        where = [f"ts_s >= {int(c['from_s'])}", f"ts_s < {int(c['until_s'])}",
                 f"({c['filter_sql']})"]
        if c.get("source"):
            where.append(f"source = '{c['source']}'")
        base = f"(SELECT * FROM read_parquet('{c['truth']}/*.parquet') WHERE {' AND '.join(where)})"
        got = c["rows"]
        q = self.con.execute
        kind = c["panel"]
        if kind == "hits":
            exp = q(f"SELECT ts_s, source, format, ip, path, status, bytes, msg FROM {base} "
                    "ORDER BY ts_s DESC, path ASC NULLS LAST, msg ASC NULLS LAST LIMIT 50").fetchall()
            return _rows_equal(got, exp, ordered=False)
        if kind == "histogram":
            exp = q(f"SELECT (ts_s // 3600) * 3600, count(*) FROM {base} GROUP BY 1").fetchall()
            return _rows_equal(got, exp, ordered=False)
        if kind == "terms":
            exp = q(f"SELECT ip, count(*) AS n FROM {base} GROUP BY ip "
                    "ORDER BY n DESC, ip ASC LIMIT 10").fetchall()
            return _rows_equal(got, exp, ordered=True)
        if kind == "percentiles":
            vals = got[0][0]
            n = q(f"SELECT count(bytes) FROM {base}").fetchone()[0]
            if n == 0:
                return "" if vals is None else f"percentiles of no rows: {vals}"
            # percentile_approx(accuracy 10000) is within n/10000 ranks
            tol = 1e-4 + 1.0 / n
            for p, v in zip([0.5, 0.9, 0.99], vals):
                lt, le = q(f"SELECT avg((bytes < {v})::DOUBLE), avg((bytes <= {v})::DOUBLE) "
                           f"FROM {base} WHERE bytes IS NOT NULL").fetchone()
                if not (lt - tol <= p <= le + tol):
                    return f"p{p}: {v} sits at rank share [{lt}, {le}] of {n}"
            return ""
        if kind == "cardinality":
            est = got[0][0]
            exact = q(f"SELECT count(DISTINCT ip) FROM {base}").fetchone()[0]
            # HLL++ at its default 5% relative standard deviation: 5 sigma,
            # so no correct answer fails across many runs; the exact
            # panels (hits, histogram, terms) pin the range and filter
            if abs(est - exact) > 2 + 0.25 * exact:
                return f"approx distinct {est} vs exact {exact}"
            return ""
        return f"unknown panel {kind}"


def _rows_equal(got, exp, ordered: bool) -> str:
    g = [tuple(r) for r in got]
    e = [tuple(r) for r in exp]
    if not ordered:
        key = lambda r: tuple("" if x is None else str(x) for x in r)
        g, e = sorted(g, key=key), sorted(e, key=key)
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for a, b in zip(g, e):
        if len(a) != len(b) or not all(cells_equal(x, y) for x, y in zip(a, b)):
            return f"row {a} vs {b}"
    return ""
