"""Output checks: order-insensitive result digests and the DuckDB oracle.

A digest is ``(rows, schema, sum of per-row hashes)`` over a canonical
form of the Arrow result: columns sorted by name, integers widened to
int64, floats to float64, timestamps to int64 microseconds. Summing row
hashes makes the digest independent of row order (Spark returns
unordered results in task-completion order) while still counting
duplicate rows. Replies of the program are compared exactly with its
own earlier replies; against DuckDB (``same_rows``), floats are compared
to a relative tolerance of 1e-9, because the two engines sum in
different orders.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.compute as pc


def _canon_column(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_timestamp(t):
        return pc.cast(pc.cast(col, pa.timestamp("us", t.tz)), pa.int64())
    if pa.types.is_date(t):
        return pc.cast(pc.cast(col, pa.date32()), pa.int32())
    if pa.types.is_integer(t):
        return pc.cast(col, pa.int64())
    if pa.types.is_floating(t):
        return pc.cast(col, pa.float64())
    if pa.types.is_large_string(t):
        return pc.cast(col, pa.string())
    return col


def canonical(tbl: pa.Table) -> pa.Table:
    """Columns sorted by name, with canonical types."""
    names = sorted(tbl.column_names)
    return pa.table([_canon_column(tbl.column(n)) for n in names],
                    names=names)


def _shape(c: pa.Table) -> tuple:
    return c.num_rows, tuple((f.name, str(f.type)) for f in c.schema)


def same_rows(got: pa.Table, want: pa.Table, rel_tol: float = 1e-9) -> bool:
    """Order-insensitive equality of two small results from different
    engines: exact on every column but floats, which may differ in the
    last bits because the engines sum in different orders."""
    a, b = canonical(got), canonical(want)
    if _shape(a) != _shape(b):
        return False
    floats = [pa.types.is_float64(f.type) for f in a.schema]

    def key(row):
        exact = tuple(repr(v) for v, f in zip(row, floats) if not f)
        approx = tuple(
            None if v is None else round(v, 6)
            for v, f in zip(row, floats) if f
        )
        return exact, repr(approx)

    rows_a = sorted((tuple(r.values()) for r in a.to_pylist()), key=key)
    rows_b = sorted((tuple(r.values()) for r in b.to_pylist()), key=key)
    for ra, rb in zip(rows_a, rows_b):
        for x, y, f in zip(ra, rb, floats):
            if f and x is not None and y is not None:
                if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True


class Digester:
    """Order-insensitive digests of Arrow tables, one DuckDB connection
    per instance (DuckDB connections are not shared across threads)."""

    def __init__(self) -> None:
        self._con = duckdb.connect()

    def close(self) -> None:
        self._con.close()

    def digest(self, tbl: pa.Table) -> tuple:
        c = canonical(tbl)
        if c.num_rows == 0 or not c.column_names:
            return (*_shape(c), 0)
        self._con.register("__r", c)
        try:
            cols = ", ".join(
                '"' + n.replace('"', '""') + '"' for n in c.column_names
            )
            (h,) = self._con.execute(
                f"SELECT sum(hash({cols})::HUGEINT)::VARCHAR FROM __r"
            ).fetchone()
        finally:
            self._con.unregister("__r")
        return (*_shape(c), h)


def duckdb_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """Expose the generated parquet tables under their registry names."""
    from mysoftware_nocnetintel_spark.sources import TABLES, table_path

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )


def time_oracles(con: duckdb.DuckDBPyConnection, names: list[str]) -> float:
    """Milliseconds DuckDB takes to run each statement's oracle SQL once:
    the run's box-noise control."""
    import time

    from mysoftware_nocnetintel_spark.plans import ORACLES

    t0 = time.perf_counter()
    for n in names:
        con.execute(ORACLES[n]).arrow()
    return (time.perf_counter() - t0) * 1000
