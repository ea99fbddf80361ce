"""Output checks, computed in DuckDB independently of Spark.

A table's digest is its row count plus the sum, over rows, of DuckDB's
``hash`` of the row's canonical values: columns in name order, integers
as BIGINT, floats as DOUBLE, timestamps as epoch microseconds, the rest
as VARCHAR. The sum makes it independent of row and file order, the
canonical casts make it independent of the physical types a writer
chose (INT96 vs INT64 timestamps, DuckDB's TIMESTAMPTZ). The generator
digests its in-memory tables with the same function; every written
output must reproduce the generator's digest.
"""

from __future__ import annotations

import duckdb

_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
         "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
_FLOATS = {"FLOAT", "REAL", "DOUBLE"}


def _canon(name: str, dtype: str) -> str:
    q = '"' + name.replace('"', '""') + '"'
    t = dtype.upper()
    if t.startswith("TIMESTAMP"):
        return f"epoch_us({q})"
    if t in _INTS:
        return f"CAST({q} AS BIGINT)"
    if t in _FLOATS or t.startswith("DECIMAL"):
        return f"CAST({q} AS DOUBLE)"
    return f"CAST({q} AS VARCHAR)"


def digest(con: duckdb.DuckDBPyConnection, relation: str) -> dict:
    """Row count, digest and column names of ``SELECT * FROM relation``."""
    cols = sorted(
        (r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    )
    exprs = ", ".join(_canon(n, t) for n, t in cols)
    rows, dig = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({exprs})), 0) AS VARCHAR) "
        f"FROM {relation}"
    ).fetchone()
    return {"rows": rows, "digest": dig, "columns": [n for n, _ in cols]}


def digest_arrow(table) -> tuple[int, str]:
    con = duckdb.connect()
    try:
        con.register("t", table)
        d = digest(con, "t")
    finally:
        con.close()
    return d["rows"], d["digest"]


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def check_output(item: dict) -> dict:
    """Digest one written output and compare it with ``item['expect']``.

    ``item['kind']`` is ``parquet`` (``path`` is a directory of parquet
    files: a dump-set table or a warehouse table) or ``duckdb``
    (``path`` is a DuckDB file holding ``schema.table``)."""
    exp = item["expect"]
    try:
        if item["kind"] == "parquet":
            con = duckdb.connect()
            rel = f"read_parquet({_sql_str(item['path'] + '/*.parquet')})"
        else:
            con = duckdb.connect(item["path"])
            rel = f'"{item["schema"]}"."{item["table"]}"'
        try:
            got = digest(con, rel)
        finally:
            con.close()
    except duckdb.Error as e:
        return {"name": item["name"], "ok": False, "error": str(e)}
    ok = (
        got["rows"] == exp["rows"]
        and got["digest"] == exp["digest"]
        and sorted(got["columns"]) == sorted(exp["columns"])
    )
    out = {"name": item["name"], "ok": ok}
    if not ok:
        out.update(got=got, expect=exp)
    return out
