"""Order-insensitive comparison of a query's Spark rows with its DuckDB twin
(``registry.oracle_sql()``) over the same generated parquet files."""

from __future__ import annotations

import decimal
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        # -0.0 and 0.0 compare equal; NaN is made comparable
        return ("nan",) if math.isnan(v) else round(v, 9) + 0.0
    return v


def _key(row: tuple) -> tuple:
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def _canonical(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_key)


class Oracle:
    def __init__(self, table_dir: str, tables: list[str]):
        self._con = duckdb.connect()
        for t in tables:
            path = os.path.join(table_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def close(self) -> None:
        self._con.close()

    def mismatch(self, sql: str, spark_cols: list[str], spark_rows) -> str | None:
        """None when the two engines agree, else a one-line reason."""
        res = self._con.execute(sql)
        duck_cols = [c[0] for c in res.description]
        duck_rows = res.fetchall()
        if sorted(duck_cols) != sorted(spark_cols):
            return f"columns differ: spark {sorted(spark_cols)} duckdb {sorted(duck_cols)}"
        if not duck_rows:
            return "oracle returned no rows"
        a = _canonical(spark_cols, [tuple(r) for r in spark_rows])
        b = _canonical(duck_cols, duck_rows)
        if len(a) != len(b):
            return f"row count differs: spark {len(a)} duckdb {len(b)}"
        bad = sum(x != y for x, y in zip(a, b))
        return f"{bad} of {len(a)} rows differ" if bad else None
