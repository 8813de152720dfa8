"""Independent answers for the correctness checks, computed in DuckDB.

Every check compares the engine's output with the registry's own DuckDB
oracle SQL (``__spark_entry__.oracle_sql()``) run over the same
generated input, as an order-insensitive multiset of rows with columns
sorted by name, with the repository's own comparator
(``tests/oracle.py``): cells by ``repr``, NaN and booleans tagged.
"""

from __future__ import annotations

import hashlib
import sqlite3

import duckdb
import pyarrow as pa


def canon_rows(cols: list[str], rows) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of normalized cells, columns by name."""
    from tests.oracle import _canon

    return _canon(rows, cols)


def multiset_digest(lines) -> tuple[int, int]:
    """Order-insensitive (count, sum of 64-bit line hashes) of strings."""
    n, acc = 0, 0
    for ln in lines:
        h = hashlib.blake2b(ln.encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFF_FFFF_FFFF_FFFF
        n += 1
    return n, acc


def _query(con, sql: str, params=None) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql, params or [])
    return [d[0] for d in rel.description], rel.fetchall()


def _recorder_tables(db_path: str) -> dict[str, pa.Table]:
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        states = conn.execute(
            "SELECT state_id, state, attributes_id, metadata_id, "
            "last_updated_ts FROM states").fetchall()
        meta = conn.execute(
            "SELECT metadata_id, entity_id FROM states_meta").fetchall()
        attrs = conn.execute(
            "SELECT attributes_id, shared_attrs FROM state_attributes"
        ).fetchall()

    def cols(rows, types):
        return [pa.array([r[i] for r in rows], type=t)
                for i, t in enumerate(types)]

    return {
        "src_states": pa.Table.from_arrays(
            cols(states, [pa.int64(), pa.string(), pa.int64(), pa.int64(),
                          pa.float64()]),
            ["state_id", "state", "attributes_id", "metadata_id",
             "last_updated_ts"]),
        "src_meta": pa.Table.from_arrays(
            cols(meta, [pa.int64(), pa.string()]),
            ["metadata_id", "entity_id"]),
        "src_attrs": pa.Table.from_arrays(
            cols(attrs, [pa.int64(), pa.string()]),
            ["attributes_id", "shared_attrs"]),
    }


def migrate_lines(db_path: str, boundary_ts: float) -> tuple[int, int]:
    """Digest of the line protocol the migration must write: the
    registry's ``ha_line_protocol`` oracle with its event-derived HA
    tables replaced by the recorder file's tables, cut at the boundary."""
    from __spark_entry__ import oracle_sql
    from ha_sqllite_2_influxdb_spark.sources.ha_fixture import duckdb_ha_cte

    sql = oracle_sql()["ha_line_protocol"]
    prefix = duckdb_ha_cte()
    if not sql.startswith(prefix):
        raise RuntimeError("ha_line_protocol oracle no longer starts with "
                           "the HA fixture CTE; update the migrate oracle")
    cte = ("WITH ha_states AS (SELECT * FROM src_states "
           "WHERE last_updated_ts < ?),\n"
           "ha_states_meta AS (SELECT * FROM src_meta),\n"
           "ha_state_attributes AS (SELECT * FROM src_attrs)")
    con = duckdb.connect()
    try:
        for name, tbl in _recorder_tables(db_path).items():
            con.register(name, tbl)
        _, rows = _query(con, cte + sql[len(prefix):], [boundary_ts])
    finally:
        con.close()
    return multiset_digest(r[1] for r in rows)


def registry_answers(table: str, path: str,
                     names: list[str]) -> dict[str, tuple[list, list]]:
    """``name -> (sorted column names, canonical rows)`` for registry
    oracles over one generated table registered under its fixture name."""
    from __spark_entry__ import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{path}')")
        out = {}
        for name in names:
            cols, rows = _query(con, oracles[name])
            out[name] = (sorted(cols), canon_rows(cols, rows))
    finally:
        con.close()
    return out
