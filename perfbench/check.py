"""Output check, run after the timed passes.

A query with an ``oracle_sql()`` entry is compared with DuckDB over the
same seeded files: same column set, same row multiset after
``tests/oracle_harness.canon_rows`` (exactly equal Arrow tables pass
without formatting every value). A query without one must return
rows, as many as ``EXPECTED_ROWS`` records. A parquet sink is checked
on the files it wrote; a CSV sink's files must hold as many rows as the
query returns.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa

from perfbench.inputs import TABLES
from tests.oracle_harness import canon_rows


def _duckdb(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )
    return con


def _rows(table) -> list[tuple]:
    """Rows of an Arrow table as Python values; tz-aware timestamps
    become naive UTC, as DuckDB returns them."""
    columns = []
    for col in table.columns:
        values = col.to_pylist()
        if any(isinstance(v, dt.datetime) and v.tzinfo for v in values):
            values = [
                v.astimezone(dt.timezone.utc).replace(tzinfo=None) if v else v
                for v in values
            ]
        columns.append(values)
    return list(zip(*columns))


def csv_rows(path: str) -> int:
    """Data rows in the CSV files a ``write_csv`` sink left at ``path``."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_csv('{path}/*.csv', header = true)"
        ).fetchone()[0]
    finally:
        con.close()


def _same_rows(table, oracle_table) -> bool:
    """Exact multiset equality of two Arrow tables of the same schema.

    Equal values give equal ``canon_rows``, so a True here settles the
    check without formatting every value, which for ``candidates``'
    135 000 rows takes about 5 s a side; anything else falls back to
    the canonical comparison."""
    cols = sorted(table.column_names)
    keys = [(c, "ascending") for c in cols]
    try:
        left, right = _widen(table.select(cols)), _widen(oracle_table.select(cols))
        if left.schema.types != right.schema.types:
            return False
        left, right = left.sort_by(keys), right.sort_by(keys)
        # column by column: the schemas may differ in nullability only
        return all(a.equals(b) for a, b in zip(left.columns, right.columns))
    except pa.ArrowException:  # out-of-range integer, or a type Arrow cannot sort
        return False


def _widen(table):
    """Cast integer columns to int64. ``canon_rows`` formats an integer
    by value alone, so this cannot turn a mismatch into a match."""
    schema = pa.schema(
        [
            f.with_type(pa.int64()) if pa.types.is_integer(f.type) else f
            for f in table.schema
        ]
    )
    return table.cast(schema)


def check_query(
    table,
    oracle: str | None,
    expected_rows: int | None,
    data_dir: str,
) -> str | None:
    """Failure reason for the Arrow result ``table``, or None."""
    if oracle is None:
        if table.num_rows == 0:
            return "empty result"
        if expected_rows is not None and table.num_rows != expected_rows:
            return f"{table.num_rows} rows, expected {expected_rows}"
        return None
    con = _duckdb(data_dir)
    try:
        expected = con.execute(oracle).arrow()
    finally:
        con.close()
    cols, d_cols = table.column_names, expected.column_names
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
    if table.num_rows != expected.num_rows:
        return f"{table.num_rows} rows, oracle has {expected.num_rows}"
    if _same_rows(table, expected):
        return None
    if canon_rows(cols, _rows(table)) != canon_rows(d_cols, _rows(expected)):
        return "value hash differs from oracle"
    return None
