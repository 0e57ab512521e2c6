"""Correctness gate: DuckDB runs each entry's registry ``oracle`` SQL over the
same parquet files; a Spark result is accepted when its rows equal the
oracle's as a multiset (and in the declared ``order_by`` order when there is
one). Values are compared in canonical text form, floats by ``repr``, so the
check is bit-exact. Accepted results are reduced to a digest that every
later invocation of the entry must reproduce."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

from datafusion_distributed_spark.tables import TABLE_NAMES


def _canon(value) -> str:
    if value is None:
        return "\x00NULL"
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value)
    return str(value)


def canonical_rows(columns: list[str], rows, ordered: bool) -> list[tuple[str, ...]]:
    """Rows as tuples of canonical values over the sorted column names;
    sorted unless the order itself is part of the answer."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(row[i]) for i in idx) for row in rows]
    return out if ordered else sorted(out)


def digest(columns: list[str], rows, ordered: bool) -> str:
    h = hashlib.sha1("\x1f".join(sorted(columns)).encode())
    for row in canonical_rows(columns, rows, ordered):
        h.update("\x1e".join(row).encode())
        h.update(b"\x1d")
    return h.hexdigest()


class Oracle:
    """A DuckDB connection with the registry's bare-named views over one
    input directory."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for name in TABLE_NAMES:
            path = os.path.join(data_dir, f"{name}.parquet")
            if os.path.isdir(path):  # multi-file table
                path = os.path.join(path, "*.parquet")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def check(self, qd, columns: list[str], rows) -> str | None:
        """None when ``rows`` match the oracle, else a one-line reason."""
        sql = qd.oracle
        if qd.order_by:
            sql = f"SELECT * FROM ({sql}) __ord ORDER BY {qd.order_by}"
        rel = self.con.sql(sql)
        if sorted(rel.columns) != sorted(columns):
            return f"columns {sorted(columns)} != oracle {sorted(rel.columns)}"
        want = canonical_rows(rel.columns, rel.fetchall(), True)
        got = canonical_rows(columns, rows, True)
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        if sorted(got) != sorted(want):
            first = next(p for p in zip(sorted(got), sorted(want)) if p[0] != p[1])
            return f"value mismatch, first: {first}"
        if qd.order_by and got != want:
            return f"row order differs from ORDER BY {qd.order_by}"
        return None

    def close(self) -> None:
        self.con.close()

