"""Order-insensitive comparison of a Spark result with its DuckDB oracle.

Each registry key carries ``QueryDef.sql``, an ANSI-SQL statement that
computes the same result over the same Parquet directory. The check runs
it in DuckDB and compares column names, row count and the multiset of
rows. Values compare exactly, integers and floats as distinct types: the
registry quantizes its floating-point outputs so both engines agree to
the bit.

The oracle's results are cached as Arrow files keyed by the input files'
bytes, the SQL text and the DuckDB version: every run generates the same
inputs, so only the first run in a checkout pays for the DuckDB queries
(about 9 s of the registry checks).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.feather as feather

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table found in ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET memory_limit = '1GB'")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def data_digest(data_dir: str) -> str:
    """A digest of the DuckDB version and the table files in ``data_dir``."""
    h = hashlib.sha256(duckdb.__version__.encode())
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.exists(path):
            with open(path, "rb") as f:
                h.update(f"{name}:{hashlib.file_digest(f, 'sha256').hexdigest()}".encode())
    return h.hexdigest()


def expected(con: duckdb.DuckDBPyConnection, sql: str, digest: str, cache_dir: str) -> pa.Table:
    """The oracle's result of ``sql``, from ``cache_dir`` when the same SQL
    has run on inputs with the same ``digest`` before."""
    key = hashlib.sha256(f"{digest}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.arrow")
    if os.path.exists(path):
        return feather.read_table(path)
    table = con.sql(sql).fetch_arrow_table()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    feather.write_feather(table, tmp, compression="uncompressed")
    os.replace(tmp, path)
    return table


def _cell(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_cell(x) for x in v))
    if isinstance(v, dict):
        return ("s", tuple((k, _cell(x)) for k, x in sorted(v.items())))
    return (type(v).__name__, v)


def _rows(table: pa.Table) -> list[tuple]:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = [tuple(_cell(col[i]) for col in data) for i in range(table.num_rows)]
    rows.sort(key=repr)
    return rows


def _canonical_type(t: pa.DataType) -> pa.DataType | None:
    """The type both engines' values are compared in; None for nested
    types, which take the row-by-row path."""
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")  # tz-aware UTC and naive UTC read alike
    if pa.types.is_nested(t):
        return None
    return t


def _sorted_canonical(table: pa.Table) -> pa.Table | None:
    cols = sorted(table.column_names)
    types = [_canonical_type(table.schema.field(c).type) for c in cols]
    if any(t is None for t in types):
        return None
    out = pa.table([table.column(c).cast(t) for c, t in zip(cols, types)], names=cols)
    return out.sort_by([(c, "ascending") for c in cols])


def compare(result: pa.Table, expected: pa.Table) -> str | None:
    """None when ``result`` equals the oracle's ``expected``, else what differs."""
    if sorted(result.column_names) != sorted(expected.column_names):
        return f"columns differ: {sorted(result.column_names)} vs {sorted(expected.column_names)}"
    if result.num_rows != expected.num_rows:
        return f"row count differs: {result.num_rows} vs oracle {expected.num_rows}"
    # fast path: flat results compare as sorted Arrow tables; anything it
    # cannot prove equal (nested columns, NaN, type mismatch) goes on to
    # the exact row-by-row comparison
    got, want = _sorted_canonical(result), _sorted_canonical(expected)
    if got is not None and want is not None and got.schema == want.schema and got.equals(want):
        return None
    got, want = _rows(result), _rows(expected)
    if got != want:
        diff = next((a, b) for a, b in zip(got, want) if a != b)
        return f"values differ, first: {diff[0]!r} vs oracle {diff[1]!r}"
    return None
