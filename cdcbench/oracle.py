"""Correctness oracle: DuckDB rebuilds each table's expected state from
the generated files, and results are compared as multisets of rows.

Expected state of a keyed table: the full-load rows, then every applied
CDC file in the order the engine applied it.  Per key the last writer
wins, ordered by ``load_timestamp``, then op priority (D > U > I, the
engine's documented tie rule), then ingestion order (file, then row);
a winning delete removes the key.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

def arrow(rel) -> pa.Table:
    """A DuckDB relation as an Arrow table (the method name differs
    across DuckDB releases)."""
    return rel.arrow() if hasattr(rel, "arrow") else rel.fetch_arrow_table()


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def expected_state(con: duckdb.DuckDBPyConnection, key_cols: list[str],
                   files: list[str]) -> pa.Table:
    """Final table state after applying ``files`` (full-load first)."""
    if not files:
        raise ValueError("expected_state needs at least the full-load file")
    flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    order = "CASE " + " ".join(
        f"WHEN filename = '{f}' THEN {i}" for i, f in enumerate(files)) + " END"
    keys = ", ".join(f'"{k}"' for k in key_cols)
    rel = con.sql(f"""
        SELECT * EXCLUDE (filename, file_row_number, _fseq, _rn, "Op",
                          load_timestamp)
        FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY {keys}
              ORDER BY load_timestamp DESC,
                       CASE "Op" WHEN 'D' THEN 3 WHEN 'U' THEN 2
                                 WHEN 'I' THEN 1 ELSE 0 END DESC,
                       _fseq DESC, file_row_number DESC) AS _rn
          FROM (SELECT *, {order} AS _fseq
                FROM read_parquet([{flist}], union_by_name = true,
                                  filename = true, file_row_number = true))
        ) WHERE _rn = 1 AND "Op" <> 'D'
    """)
    return arrow(rel)


def _naive(t: pa.Table) -> pa.Table:
    """Drop time zones (both engines run in UTC) so timestamps compare
    by value."""
    fields = []
    for f in t.schema:
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            f = f.with_type(pa.timestamp(f.type.unit))
        fields.append(f)
    return t.cast(pa.schema(fields))


def fingerprint(con: duckdb.DuckDBPyConnection, t: pa.Table) -> tuple[int, int]:
    """(row count, order-independent value hash) of an Arrow table."""
    con.register("_fp", t)
    try:
        n, h = con.execute(
            "SELECT COUNT(*), COALESCE(SUM(hash(_fp)), 0) FROM _fp").fetchone()
    finally:
        con.unregister("_fp")
    return int(n), int(h)


def compare(con: duckdb.DuckDBPyConnection, actual: pa.Table,
            expected: pa.Table) -> str | None:
    """None when ``actual`` holds exactly the rows of ``expected`` (any
    order), else a one-line reason.  Columns are matched by name and
    ``actual`` is cast to the expected types first."""
    got_cols = sorted(actual.column_names)
    exp_cols = sorted(expected.column_names)
    if got_cols != exp_cols:
        return f"columns differ: got {got_cols}, expected {exp_cols}"
    expected = _naive(expected)
    try:
        actual = _naive(actual).select(expected.column_names).cast(
            expected.schema)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as exc:
        return f"types differ: {exc}"
    got, exp = fingerprint(con, actual), fingerprint(con, expected)
    if got != exp:
        return (f"rows/hash differ: got {got[0]} rows hash {got[1]}, "
                f"expected {exp[0]} rows hash {exp[1]}")
    return None
