"""Partitioned SQLite source — the reference's actual input connector.

The reference opens the HA recorder database with ``sqlite3.connect`` and
streams one cursor in ``fetchmany(BATCH_SIZE)`` slabs on a single thread
(``connect_to_sqlite``, sqllite2influxdb.py:33-42; the batch loop,
:183-188). This module maps that role onto Spark's source model without
needing a JDBC driver jar:

- the DRIVER opens the file once for metadata only — ``PRAGMA
  table_info`` for the schema, ``min(rowid)/max(rowid)`` for partition
  bounds (both O(1) B-tree lookups);
- the EXECUTORS each open their own read-only connection and scan one
  rowid range via ``mapInPandas`` — Arrow-batched, N parallel readers
  instead of the reference's single cursor. This is exactly the shape of
  ``spark.read.jdbc(partitionColumn=..., lowerBound=..., upperBound=...,
  numPartitions=...)``, built from the Python stdlib.

Pushdown: ``columns`` prunes the SELECT list and ``predicate`` — a TYPED
``(column, op, value)`` triple, never raw SQL — lands in the per-range
WHERE clause with the value bound as a ``?`` parameter, so filtering
happens inside SQLite's scan. The reference instead splices its boundary
predicate into the query string (sqllite2influxdb.py:88-89) — the
injection-unsafe pattern SURVEY §3.3 flags — and compares TEXT-vs-REAL
(the bug documented in SURVEY §2.2); the typed triple closes both.

At 100 TB the single-file SQLite source is itself the bottleneck (one
file, one host) — the design point of this connector is correct *shape*:
metadata-only driver work, executor-side range scans, no driver
collect. A fleet of recorder files parallelizes across both files and
ranges with the same code.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterator
from contextlib import closing

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: SQLite column affinity → Spark type (SQLite stores dynamically; the
#: declared affinity is the engine-portable contract, same rules SQLite
#: itself applies: https://www.sqlite.org/datatype3.html §3.1)
_AFFINITY_RULES = [
    ("INT", LongType()),
    ("CHAR", StringType()),
    ("CLOB", StringType()),
    ("TEXT", StringType()),
    ("BLOB", BinaryType()),
    ("REAL", DoubleType()),
    ("FLOA", DoubleType()),
    ("DOUB", DoubleType()),
]


def _affinity_to_spark(decl: str):
    d = (decl or "").upper()
    for token, t in _AFFINITY_RULES:
        if token in d:
            return t
    # NUMERIC affinity / no declared type: SQLite would store anything;
    # surface as string (lossless) and let the caller cast
    return StringType()


#: predicate ops accepted by ``read_table`` — simple comparisons only
_ALLOWED_OPS = frozenset({"<", "<=", ">", ">=", "=", "!=", "<>"})

#: a (column, op, value) comparison pushed into the SQLite scan
Predicate = tuple[str, str, object]


def _compile_predicate(
    predicate: Predicate | None, valid_columns: set[str]
) -> tuple[str, list]:
    """Validate a typed predicate → (SQL fragment with ``?``, params).

    Raw SQL strings are rejected outright: the column must exist in the
    table, the operator must be a simple comparison, and the value is
    bound as a parameter — nothing caller-controlled is ever spliced
    into the statement text.
    """
    if predicate is None:
        return "", []
    if isinstance(predicate, str):
        raise TypeError(
            "predicate must be a (column, op, value) tuple, not raw SQL"
        )
    col, op, val = predicate
    if col not in valid_columns:
        raise ValueError(f"predicate column not in table: {col!r}")
    if op not in _ALLOWED_OPS:
        raise ValueError(f"predicate op not allowed: {op!r}")
    if not isinstance(val, (int, float, str, bytes)) or isinstance(val, bool):
        raise TypeError(f"predicate value must be a scalar, got {type(val)}")
    return f'"{col}" {op} ?', [val]


def table_schema(db_path: str, table: str) -> StructType:
    """Spark schema for a SQLite table from its declared column types."""
    with closing(sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)) as conn:
        info = conn.execute(f'PRAGMA table_info("{table}")').fetchall()
    if not info:
        raise ValueError(f"sqlite table not found: {table}")
    return StructType([
        StructField(name, _affinity_to_spark(decl), True)
        for (_cid, name, decl, _nn, _dflt, _pk) in info
    ])


def read_table(
    spark: SparkSession,
    db_path: str,
    table: str,
    columns: list[str] | None = None,
    predicate: Predicate | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Parallel partitioned scan of one SQLite table.

    Ranges split ``rowid`` evenly, one range per task by construction:
    the range frame is ``spark.range(0, n, 1, n)`` and task ``i`` scans
    range ``i``, so the scan needs no exchange and every core gets an
    equal slice. For an HA recorder DB rowid order is insert order, which
    correlates with ``last_updated_ts``, so the ranges are also roughly
    time-ordered; the CLI uses them directly as its sink writers, each
    sorted oldest-first within its own partition.
    """
    full = table_schema(db_path, table)
    if columns is None:
        columns = [f.name for f in full.fields]
    unknown = set(columns) - {f.name for f in full.fields}
    if unknown:
        raise ValueError(f"columns not in table: {sorted(unknown)}")
    schema = StructType([f for f in full.fields if f.name in set(columns)])
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    frag, params = _compile_predicate(
        predicate, {f.name for f in full.fields}
    )

    with closing(sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)) as conn:
        where = f" WHERE {frag}" if frag else ""
        lo_hi = conn.execute(
            f'SELECT min(rowid), max(rowid) FROM "{table}"{where}', params
        ).fetchone()
    if lo_hi is None or lo_hi[0] is None:
        return spark.createDataFrame([], schema)
    lo, hi = lo_hi
    span = hi - lo + 1
    n = min(num_partitions, span)
    # range i is [lo + i*span//n, lo + (i+1)*span//n): sizes differ by at
    # most one rowid and none is empty
    ranges = [(lo + i * span // n, lo + (i + 1) * span // n - 1)
              for i in range(n)]

    sel = ", ".join(f'"{c}"' for c in columns)
    pred = f" AND ({frag})" if frag else ""
    names = list(columns)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                r_lo, r_hi = ranges[int(i)]
                with closing(sqlite3.connect(f"file:{db_path}?mode=ro",
                                             uri=True)) as conn:
                    cur = conn.execute(
                        f'SELECT {sel} FROM "{table}"'
                        " WHERE rowid BETWEEN ? AND ?"
                        f"{pred}",
                        [r_lo, r_hi, *params],
                    )
                    while True:
                        rows = cur.fetchmany(10_000)
                        if not rows:
                            break
                        yield pd.DataFrame(rows, columns=names)

    return spark.range(0, n, 1, n).mapInPandas(scan, schema)


def read_ha_recorder(
    spark: SparkSession,
    db_path: str,
    boundary_ts: float | None = None,
    num_partitions: int | None = None,
) -> dict[str, DataFrame]:
    """The reference's three source tables as pruned parallel scans.

    Column lists mirror the reference's SELECT (sqllite2influxdb.py:83-86)
    plus join keys; ``boundary_ts`` reproduces the *intended* incremental
    predicate (``last_updated_ts < boundary``, :88-89) pushed into the
    states scan — typed, unlike the reference's TEXT-vs-REAL comparison.
    The joins themselves run in Spark (broadcast for the two dimension
    tables) rather than inside SQLite, so the big table never funnels
    through a single-threaded join.
    """
    pred = None
    if boundary_ts is not None:
        pred = ("last_updated_ts", "<", float(boundary_ts))
    return {
        "states": read_table(
            spark, db_path, "states",
            columns=["state_id", "state", "attributes_id", "metadata_id",
                     "last_updated_ts"],
            predicate=pred, num_partitions=num_partitions,
        ),
        "states_meta": read_table(
            spark, db_path, "states_meta",
            columns=["metadata_id", "entity_id"], num_partitions=1,
        ),
        "state_attributes": read_table(
            spark, db_path, "state_attributes",
            columns=["attributes_id", "shared_attrs"], num_partitions=1,
        ),
    }


def migration_points(spark: SparkSession, db_path: str,
                     boundary_ts: float | None = None) -> DataFrame:
    """End-to-end reference pipeline from a real recorder SQLite file:
    partitioned scans → broadcast joins (inside the transform) → the
    typed point rows."""
    from ..operators.transform import points

    t = read_ha_recorder(spark, db_path, boundary_ts=boundary_ts)
    # keep_state: the sink renders numeric fields from the RAW state text
    # (byte-identical to the source — no float round-trip)
    return points(t["states"], t["states_meta"], t["state_attributes"],
                  keep_state=True)
