"""Output checks, run outside the timed sections."""

from __future__ import annotations

import math
import os


def duck_views(table_dir: str, tables):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(table_dir, t + '.parquet')}'")
    return con


def _cell(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, int):
        return v
    return str(v)


def normalise(cols, rows):
    """Rows as sorted tuples of rounded cells, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_cell(r[i]) for i in order) for r in rows]
    normed.sort(key=lambda row: tuple((v is not None, str(type(v)), v) for v in row))
    return [cols[i] for i in order], normed


def oracle_mismatch(con, sql: str, cols, rows) -> str | None:
    """None when the Spark rows equal the DuckDB twin's, else why not."""
    cur = con.execute(sql)
    d_cols, d_rows = normalise([c[0] for c in cur.description], cur.fetchall())
    s_cols, s_rows = normalise(cols, rows)
    if s_cols != d_cols:
        return f"columns {s_cols} != {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != {len(d_rows)}"
    bad = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    return f"values differ, first {bad[0]}" if bad else None
