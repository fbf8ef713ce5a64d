"""Output checks against the DuckDB oracle (``__spark_entry__.oracle_sql``),
normalized the way ``tests/oracle_mirror.py`` normalizes them."""

from __future__ import annotations

import importlib.util
import os

_MIRROR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tests", "oracle_mirror.py")


def _load_mirror():
    spec = importlib.util.spec_from_file_location("oracle_mirror", _MIRROR)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


_mirror = _load_mirror()


def connect(data_dir: str):
    """A DuckDB connection with one view per fixture table."""
    return _mirror.make_duck(data_dir)


def normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    return _mirror._normalize_rows(cols, rows)


def expected_rows(duck, sql: str) -> tuple[list[str], list[tuple]]:
    res = duck.sql(sql)
    cols = list(res.columns)
    return cols, normalize(cols, res.fetchall())


def compare(cols, rows, want_cols, want_rows) -> str | None:
    """None when Spark's result equals the oracle's, else the difference."""
    if sorted(cols) != sorted(want_cols):
        return f"columns differ: {sorted(cols)} vs oracle {sorted(want_cols)}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows, oracle has {len(want_rows)}"
    got = normalize(cols, rows)
    if got != want_rows:
        diff = next((a, b) for a, b in zip(got, want_rows) if a != b)
        return f"values differ, first: {diff}"
    return None


def written(path: str) -> str:
    """SQL over the Parquet files of a (Hive-partitioned) written layer."""
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet')"


def count(duck, sql: str) -> int:
    return duck.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def substitute(sql: str, old: str, new: str) -> str:
    """``sql`` with its one occurrence of ``old`` replaced by ``new``."""
    if sql.count(old) != 1:
        raise ValueError(f"expected {old!r} once in the oracle SQL, found {sql.count(old)}")
    return sql.replace(old, new)


def compare_written(duck, sql: str, path: str, exprs: dict[str, str] | None = None) -> str | None:
    """None when the layer written at ``path`` holds exactly the oracle's
    rows (as a multiset, over the oracle's columns).  ``exprs`` computes
    an oracle column from the written ones where the names differ."""
    exprs = exprs or {}
    cols = ", ".join(f"{exprs.get(c, c)} AS {c}" for c in duck.sql(sql).columns)
    got = f"SELECT {cols} FROM ({written(path)})"
    extra = count(duck, f"({got}) EXCEPT ALL ({sql})")
    missing = count(duck, f"({sql}) EXCEPT ALL ({got})")
    if extra or missing:
        return f"{extra} rows not in the oracle, {missing} oracle rows missing"
    return None
