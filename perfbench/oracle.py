"""Output check: a query's Spark rows against its DuckDB oracle twin.

Both sides are reduced to ``trackdechets_etl_spark.canon.canon`` form
(columns sorted by name, rows sorted, every value type-tagged), so the
check is an exact, order-insensitive match. Only a digest of the
expected canonical rows is kept in memory.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from pathlib import Path

import duckdb

from trackdechets_etl_spark.canon import canon


@dataclass(frozen=True)
class Expected:
    columns: tuple[str, ...]
    rows: int
    digest: str


def canon_digest(rows, columns) -> str:
    h = hashlib.sha256()
    for row in canon(rows, list(columns)):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, data_dir: Path, tables: tuple[str, ...]):
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / f'{t}.parquet'}'"
            )

    def expected(self, sql: str) -> Expected:
        res = self._con.execute(sql)
        columns = tuple(d[0] for d in res.description)
        rows = res.fetchall()
        return Expected(columns, len(rows), canon_digest(rows, columns))

    def close(self) -> None:
        self._con.close()


def mismatch(expected: Expected, rows, columns) -> str | None:
    """Why ``rows`` differ from the oracle's, or None when they match."""
    if sorted(columns) != sorted(expected.columns):
        return f"columns {sorted(columns)} != oracle {sorted(expected.columns)}"
    if len(rows) != expected.rows:
        return f"{len(rows)} rows != oracle {expected.rows}"
    if canon_digest(rows, columns) != expected.digest:
        return "values differ from oracle"
    return None
