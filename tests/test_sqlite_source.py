"""Partitioned SQLite source: schema mapping, range scans, pushdown, and
the end-to-end migration pipeline over a real recorder-shaped .db file.
Ground truth is sqlite3 itself (same engine the reference reads with)."""

import json
import os
import re
import shutil
import sqlite3

import pytest

from ha_sqllite_2_influxdb_spark.sources import sqlite as src

N_STATES = 500


@pytest.fixture(scope="module")
def recorder_db(tmp_path_factory):
    """HA-recorder-shaped fixture: states / states_meta / state_attributes
    with NULL attributes, sentinel states, numeric and string states."""
    path = str(tmp_path_factory.mktemp("ha") / "recorder.db")
    conn = sqlite3.connect(path)
    conn.executescript("""
        CREATE TABLE states (
            state_id INTEGER PRIMARY KEY,
            state TEXT,
            attributes_id INTEGER,
            metadata_id INTEGER,
            last_updated_ts REAL
        );
        CREATE TABLE states_meta (
            metadata_id INTEGER PRIMARY KEY,
            entity_id TEXT
        );
        CREATE TABLE state_attributes (
            attributes_id INTEGER PRIMARY KEY,
            shared_attrs TEXT
        );
    """)
    states = []
    for i in range(N_STATES):
        state = ["21.5", "on", "unknown", "-5", ""][i % 5]
        attrs_id = None if i % 7 == 0 else i % 20
        states.append(
            (i, state, attrs_id, i % 10, 1700000000.0 + i * 60.0)
        )
    conn.executemany("INSERT INTO states VALUES (?,?,?,?,?)", states)
    conn.executemany(
        "INSERT INTO states_meta VALUES (?,?)",
        [(m, f"sensor.dev_{m}.temp") for m in range(10)],
    )
    conn.executemany(
        "INSERT INTO state_attributes VALUES (?,?)",
        [
            (a, json.dumps({"unit_of_measurement": "°C",
                            "friendly_name": f"Device {a}"})
             if a % 3 else "not json{")
            for a in range(20)
        ],
    )
    conn.commit()
    conn.close()
    return path


def test_schema_from_affinity(recorder_db):
    schema = src.table_schema(recorder_db, "states")
    assert [f.name for f in schema.fields] == [
        "state_id", "state", "attributes_id", "metadata_id",
        "last_updated_ts",
    ]
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert types["state_id"] == "bigint"
    assert types["state"] == "string"
    assert types["last_updated_ts"] == "double"


def test_partitioned_scan_complete(spark, recorder_db):
    df = src.read_table(spark, recorder_db, "states", num_partitions=4)
    assert df.rdd.getNumPartitions() == 4
    rows = {r.state_id: r for r in df.collect()}
    assert len(rows) == N_STATES
    # NULL attributes_id survives; REAL roundtrips exactly
    assert rows[0].attributes_id is None
    assert rows[7].attributes_id is None
    assert rows[3].last_updated_ts == 1700000000.0 + 3 * 60.0
    # one rowid range per task by construction: every core gets a slice
    # and the slices differ by at most one row (contiguous rowids)
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) == 4 and min(sizes) > 0, sizes
    assert max(sizes) - min(sizes) <= 1, sizes


def test_column_pruning_and_pushdown(spark, recorder_db):
    df = src.read_table(
        spark, recorder_db, "states",
        columns=["state_id", "state"],
        predicate=("state", "=", "on"), num_partitions=3,
    )
    assert df.columns == ["state_id", "state"]
    got = df.collect()
    with sqlite3.connect(recorder_db) as conn:
        want = conn.execute(
            "SELECT count(*) FROM states WHERE state = 'on'").fetchone()[0]
    assert len(got) == want
    assert all(r.state == "on" for r in got)


def test_empty_result(spark, recorder_db):
    df = src.read_table(spark, recorder_db, "states",
                        predicate=("state_id", "<", 0))
    assert df.count() == 0


def test_predicate_rejects_raw_sql(spark, recorder_db):
    """The injection-unsafe pattern the reference uses
    (sqllite2influxdb.py:88-89) must be refused, not spliced."""
    with pytest.raises(TypeError):
        src.read_table(spark, recorder_db, "states",
                       predicate="1=1; DROP TABLE states")
    with pytest.raises(ValueError):
        src.read_table(spark, recorder_db, "states",
                       predicate=("state; --", "=", "on"))
    with pytest.raises(ValueError):
        src.read_table(spark, recorder_db, "states",
                       predicate=("state", "= 'on' OR 1", "x"))
    # malicious VALUE is harmless by construction (bound parameter): it
    # compares as a string and simply matches nothing
    df = src.read_table(spark, recorder_db, "states",
                        predicate=("state", "=", "' OR '1'='1"))
    assert df.count() == 0


def test_migration_points_end_to_end(spark, recorder_db):
    pts = src.migration_points(spark, recorder_db).collect()
    # sentinel 'unknown' and '' -> empty-string state is kept ('' is not
    # sentinel), 'unknown' dropped: 4/5 of rows survive
    assert len(pts) == N_STATES * 4 // 5
    by_id = {p.state_id: p for p in pts}
    # numeric state routed to value, string state to state_str
    assert by_id[0].value == 21.5 and by_id[0].state_str is None
    assert by_id[1].value is None and by_id[1].state_str == "on"
    # '-5' must route to STRING (reference's no-sign numeric test, F8)
    assert by_id[3].value is None and by_id[3].state_str == "-5"
    # attrs present -> unit + friendly name; NULL attrs -> defaults
    assert by_id[1].measurement == "°C"
    assert by_id[0].measurement == "default_measurement"  # i%7==0: NULL attrs
    # falls back to the short entity id = after FIRST dot (F1 keeps later dots)
    assert by_id[0].friendly_name == "dev_0.temp"
    # malformed JSON (attributes_id % 3 == 0) -> defaults, row survives
    bad = [p for p in pts if p.measurement == "default_measurement"]
    assert len(bad) > N_STATES // 7  # NULL-attr rows plus bad-JSON rows


def test_cli_main_migrates_to_http_sink(spark, recorder_db):
    """The reference's whole invocation surface, end-to-end: env config →
    partitioned SQLite scan → transform → line protocol → batched HTTP
    POSTs to a v2 write endpoint (reference main(),
    sqllite2influxdb.py:163-199). The received line set must equal the
    direct rendering of the migration scan."""
    from pyspark.sql import functions as F

    from ha_sqllite_2_influxdb_spark.__main__ import main
    from ha_sqllite_2_influxdb_spark.sinks.influx import line_protocol
    from tests.test_sinks import _RecordingInfluxServer

    server = _RecordingInfluxServer()
    try:
        rc = main({
            "SQLITE_DB": recorder_db,
            "INFLUXDB_URL": server.url,
            "INFLUXDB_TOKEN": "tok",
            "INFLUXDB_ORG": "o",
            "INFLUXDB_BUCKET": "b",
            "BATCH_SIZE": "100",
            "SPARK_GRAFT_CPUS": "8",
        })
        assert rc == 0
        received = [
            ln for r in server.requests for ln in r["body"].splitlines()
            if ln
        ]
        want = [
            r.line for r in line_protocol(
                src.migration_points(spark, recorder_db),
                raw_state=F.col("state_raw"),
            ).collect()
        ]
        assert sorted(received) == sorted(want)
        assert len(want) == N_STATES * 4 // 5  # sentinel rows dropped
        # batched at BATCH_SIZE
        assert max(len(r["body"].splitlines()) for r in server.requests) <= 100
    finally:
        server.stop()


def test_cli_main_incremental_via_flux_probe(spark, recorder_db):
    """Reference parity for the incremental path (main() :163-199 with
    get_oldest_influx_timestamp :54-69): the sink's oldest point, served
    by the stub's /api/v2/query, must bound the migration — only states
    strictly older than it are written."""
    from datetime import datetime, timezone

    from ha_sqllite_2_influxdb_spark.__main__ import main
    from tests.test_sinks import _RecordingInfluxServer

    cutoff = 1700000000.0 + 100 * 60.0
    iso = datetime.fromtimestamp(cutoff, tz=timezone.utc).isoformat() \
        .replace("+00:00", "Z")
    server = _RecordingInfluxServer(oldest=iso)
    try:
        rc = main({
            "SQLITE_DB": recorder_db,
            "INFLUXDB_URL": server.url,
            "INFLUXDB_TOKEN": "tok",
            "INFLUXDB_ORG": "o",
            "INFLUXDB_BUCKET": "b",
            "SPARK_GRAFT_CPUS": "8",
        })
        assert rc == 0
        assert len(server.queries) == 1  # exactly one probe
        received = [
            ln for r in server.requests for ln in r["body"].splitlines()
            if ln
        ]
        # states with i < 100 survive the boundary; 1/5 ('unknown') are
        # sentinel-dropped by the transform
        assert len(received) == 100 * 4 // 5
        cutoff_ns = int(cutoff * 1e9)
        assert all(int(ln.rsplit(" ", 1)[1]) < cutoff_ns for ln in received)
    finally:
        server.stop()


def test_cli_main_boundary_ts_override_skips_probe(spark, recorder_db):
    """VERDICT r4 #8: the explicit BOUNDARY_TS mode (write-only tokens /
    air-gapped sinks) must bound the migration WITHOUT issuing any Flux
    probe, and the written line set must equal the direct rendering of
    the boundary-bounded migration scan."""
    from pyspark.sql import functions as F

    from ha_sqllite_2_influxdb_spark.__main__ import main
    from ha_sqllite_2_influxdb_spark.sinks.influx import line_protocol
    from tests.test_sinks import _RecordingInfluxServer

    cutoff = 1700000000.0 + 50 * 60.0
    server = _RecordingInfluxServer(oldest="2000-01-01T00:00:00Z")
    try:
        rc = main({
            "SQLITE_DB": recorder_db,
            "INFLUXDB_URL": server.url,
            "INFLUXDB_TOKEN": "tok",
            "INFLUXDB_ORG": "o",
            "INFLUXDB_BUCKET": "b",
            "BOUNDARY_TS": str(cutoff),
            "SPARK_GRAFT_CPUS": "8",
        })
        assert rc == 0
        assert server.queries == []  # explicit boundary: NO probe issued
        received = [
            ln for r in server.requests for ln in r["body"].splitlines()
            if ln
        ]
        want = [
            r.line for r in line_protocol(
                src.migration_points(spark, recorder_db, boundary_ts=cutoff),
                raw_state=F.col("state_raw"),
            ).collect()
        ]
        assert sorted(received) == sorted(want)
        assert len(received) == 50 * 4 // 5
    finally:
        server.stop()

    # malformed BOUNDARY_TS fails fast, before any Spark work
    assert main({
        "SQLITE_DB": recorder_db,
        "INFLUXDB_URL": "http://127.0.0.1:9",
        "INFLUXDB_TOKEN": "t", "INFLUXDB_ORG": "o", "INFLUXDB_BUCKET": "b",
        "BOUNDARY_TS": "not-a-float",
    }) == 1


def test_cli_file_sink_per_writer_order(spark, recorder_db, tmp_path):
    """The CLI's sink contract (O1): every writer emits oldest-first, one
    writer per scan range, and the written line set equals the direct
    rendering. Timestamps are reversed against rowid order here, so a
    scan-order write would fail the per-writer check."""
    from pyspark.sql import functions as F

    from ha_sqllite_2_influxdb_spark.__main__ import main
    from ha_sqllite_2_influxdb_spark.sinks.influx import line_protocol

    db = str(tmp_path / "reversed.db")
    shutil.copy(recorder_db, db)
    conn = sqlite3.connect(db)
    conn.execute("UPDATE states SET last_updated_ts = "
                 f"1700000000.0 + ({N_STATES - 1} - state_id) * 60.0")
    conn.commit()
    conn.close()
    cutoff = 1700000000.0 + 400 * 60.0
    sink = str(tmp_path / "sink")
    rc = main({
        "SQLITE_DB": db,
        "INFLUXDB_URL": "http://unused",
        "INFLUXDB_TOKEN": "t", "INFLUXDB_ORG": "o", "INFLUXDB_BUCKET": "b",
        "SINK_PATH": sink,
        "BOUNDARY_TS": str(cutoff),
    })
    assert rc == 0
    parts = sorted(p for p in os.listdir(sink) if p.startswith("part-")
                   and p.endswith(".lp"))
    ranges = src.read_ha_recorder(
        spark, db, boundary_ts=cutoff)["states"].rdd.getNumPartitions()
    assert len(parts) == ranges > 1
    written = []
    for p in parts:
        with open(os.path.join(sink, p)) as f:
            lines = f.read().splitlines()
        ts = [int(ln.rsplit(" ", 1)[1]) for ln in lines]
        assert ts == sorted(ts), p
        written.extend(lines)
    want = [
        r.line for r in line_protocol(
            src.migration_points(spark, db, boundary_ts=cutoff),
            raw_state=F.col("state_raw"),
        ).collect()
    ]
    assert sorted(written) == sorted(want)
    assert len(want) == 400 * 4 // 5


def test_migration_sort_has_no_shuffle(spark, recorder_db):
    """The CLI's pre-sink plan: scan ranges → broadcast joins → a
    per-partition sort. The only exchanges left are the two broadcasts."""
    from tests.test_plans import explain_str

    df = src.migration_points(spark, recorder_db) \
        .sortWithinPartitions("ts_epoch")
    df.collect()
    final = explain_str(df).split("== Initial Plan ==")[0]
    exchanges = re.findall(r"(\w*)Exchange", final)
    assert exchanges and set(exchanges) == {"Broadcast"}, final


def test_cli_main_fails_fast_on_missing_config(capsys):
    from ha_sqllite_2_influxdb_spark.__main__ import main

    assert main({"SQLITE_DB": "x.db"}) == 1
    err = capsys.readouterr().err
    assert "missing required configuration" in err


def test_boundary_pushdown(spark, recorder_db):
    cutoff = 1700000000.0 + 100 * 60.0
    t = src.read_ha_recorder(spark, recorder_db, boundary_ts=cutoff)
    got = t["states"].count()
    with sqlite3.connect(recorder_db) as conn:
        want = conn.execute(
            "SELECT count(*) FROM states WHERE last_updated_ts < ?",
            (cutoff,)).fetchone()[0]
    assert got == want == 100
