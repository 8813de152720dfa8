"""CLI entry: the reference script's invocation surface on Spark.

``python -m ha_sqllite_2_influxdb_spark`` is the drop-in analog of
``python sqllite2influxdb.py`` (reference main(), sqllite2influxdb.py:
163-199): read env config (fail fast, :19-29), scan the recorder SQLite
file, transform states→points, render line protocol, and write to the
InfluxDB v2 HTTP endpoint in BATCH_SIZE batches (DEBUG_MODE = per-point
error isolation, :148-153).

Differences by design (all Spark-first):
- the scan is a partitioned parallel read, not one cursor;
- rendering/transform are Catalyst column expressions, not per-row
  Python;
- the scan ranges are the writers, one per task (``defaultParallelism``,
  sized by ``SPARK_GRAFT_CPUS``): each partition is sorted oldest-first
  on event time in place, preserving the reference's ordering PER
  WRITER (ORDER BY, :89-90) with no shuffle and no global sort;
- the incremental boundary comes from the reference's own probe — a
  Flux oldest-point query against the sink (:54-69, here a stdlib POST
  to /api/v2/query) — unless ``BOUNDARY_TS`` (epoch seconds) overrides
  it, for write-only tokens or air-gapped runs. An empty or
  unreachable sink means full migration, exactly the reference's cold
  start.

Extra env (beyond the reference's contract): ``SINK_PATH`` writes
line-protocol files instead of HTTP (set INFLUXDB_URL to any value);
``SPARK_GRAFT_CPUS`` sizes the local session.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F


def main(env=None) -> int:
    from .config import ConfigError, EtlConfig
    from .session import get_spark
    from .sinks.influx import line_protocol, probe_oldest_ts, write_lines
    from .sources.sqlite import migration_points

    env = os.environ if env is None else env
    try:
        cfg = EtlConfig.from_env(env)
    except ConfigError as e:
        print(f"Configuration error: {e}", file=sys.stderr)
        return 1

    sink_path = env.get("SINK_PATH")
    boundary = None
    if env.get("BOUNDARY_TS"):
        try:
            boundary = float(env["BOUNDARY_TS"])
        except ValueError:
            print("Configuration error: BOUNDARY_TS must be a float epoch",
                  file=sys.stderr)
            return 1
    elif not sink_path:
        # the reference's incremental probe (:54-69): oldest sink point
        # bounds the migration; None (empty/unreachable) = migrate all
        boundary = probe_oldest_ts(
            cfg.influxdb_url, token=cfg.influxdb_token,
            org=cfg.influxdb_org, bucket=cfg.influxdb_bucket,
        )
        print(f"Oldest InfluxDB timestamp: {boundary}")  # reference :170

    from pyspark.sql import SparkSession

    # get_spark → getOrCreate: when a session already exists (embedded
    # use, tests) we must not stop it on the way out
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("ha_sqllite_2_influxdb")
    try:
        pts = migration_points(spark, cfg.sqlite_db, boundary_ts=boundary)
        # oldest-first per writer (reference ORDER BY, :89-90); the scan
        # partitions are the writers, so no exchange precedes the sink
        ordered = pts.sortWithinPartitions("ts_epoch")
        lines = line_protocol(ordered, raw_state=F.col("state_raw"))
        if sink_path:
            write_lines(lines, path=sink_path, batch_size=cfg.batch_size,
                        debug=cfg.debug_mode)
        else:
            write_lines(
                lines, url=cfg.influxdb_url, token=cfg.influxdb_token,
                org=cfg.influxdb_org, bucket=cfg.influxdb_bucket,
                batch_size=cfg.batch_size, debug=cfg.debug_mode,
            )
        print("Data export complete.")  # reference's final log line (:199)
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
