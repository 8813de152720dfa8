"""The two workloads: one operation each, its check, and its traced form.

Each workload is driven through the engine's public functions only:

- ``migrate``: the command-line entry ``__main__.main(env)`` on a
  recorder file, writing line-protocol files;
- ``query``: the read path after migration, one request at a time:
  InfluxQL/Flux dashboard text -> ``compile_*`` -> ``collect()``, and
  the curation requests ``q_curate_pipeline`` and
  ``dedup.neardup_pairs`` (MinHash-LSH).

``op()`` runs one untraced operation and returns ``(seconds, work
units, ok)``; the check runs after the clock stops. ``traced_op()``
runs the same operation split into layer spans on a ``SpanRecorder``;
``once()`` measures, in traced runs only, what does not change between
operations.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time

from pyspark.sql import functions as F

import oracle
from spans import prefix_self_times


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Migrate:
    #: latencies are weighted per stratum (one here: the pass)
    stratum = "pass"
    #: operations in one full mix of the workload's strata; set-up runs
    #: one block cold
    block_ops = 1
    #: operations run after set-up, before the clock starts
    warmup_ops = 1
    #: spans whose Spark jobs make up the end-to-end operation
    op_spans = ("main",)

    def __init__(self, inputs: dict[str, dict], work_dir: str):
        props = inputs["recorder.db"]
        self.db = props["path"]
        self.boundary = props["boundary_ts"]
        self.sink = os.path.join(work_dir, "sink")
        self.expected = oracle.migrate_lines(self.db, self.boundary)
        self.last: dict = {}

    def _env(self) -> dict:
        # INFLUXDB_* are required by the config contract; SINK_PATH and
        # BOUNDARY_TS keep the run offline
        return {"SQLITE_DB": self.db, "INFLUXDB_URL": "http://unused",
                "INFLUXDB_TOKEN": "unused", "INFLUXDB_ORG": "bench",
                "INFLUXDB_BUCKET": "bench", "SINK_PATH": self.sink,
                "BOUNDARY_TS": repr(self.boundary)}

    def _main(self) -> int:
        """One CLI pass into an empty sink directory (cleared by the
        caller, outside the clock)."""
        from ha_sqllite_2_influxdb_spark.__main__ import main

        with contextlib.redirect_stdout(io.StringIO()):
            return main(self._env())

    def _check(self, rc: int) -> tuple[int, bool]:
        parts = sorted(p for p in os.listdir(self.sink)
                       if p.endswith(".lp")) if rc == 0 else []
        lines, size = [], 0
        for p in parts:
            path = os.path.join(self.sink, p)
            size += os.path.getsize(path)
            with open(path) as f:
                lines.extend(f.read().splitlines())
        self.last = {"writers": len(parts), "bytes": size,
                     "points": len(lines)}
        return len(lines), rc == 0 and oracle.multiset_digest(
            lines) == self.expected

    def op(self, spark) -> tuple[float, int, bool]:
        shutil.rmtree(self.sink, ignore_errors=True)
        t0 = time.perf_counter()
        rc = self._main()
        dt = time.perf_counter() - t0
        n, ok = self._check(rc)
        return dt, n, ok

    def traced_op(self, spark, rec) -> tuple[float, int, bool, dict]:
        from ha_sqllite_2_influxdb_spark.sinks.influx import line_protocol
        from ha_sqllite_2_influxdb_spark.sources.sqlite import (
            migration_points, read_ha_recorder)

        with rec.span("sources.sqlite.plan") as plan:
            pts = migration_points(spark, self.db, boundary_ts=self.boundary)
        with rec.span("sources.sqlite.scan") as scan:
            _noop(read_ha_recorder(spark, self.db,
                                   boundary_ts=self.boundary)["states"])
        with rec.span("operators.transform") as tr:
            _noop(pts)
        with rec.span("sinks.influx.render") as render:
            _noop(line_protocol(pts, raw_state=F.col("state_raw")))
        shutil.rmtree(self.sink, ignore_errors=True)
        with rec.span("main") as main:
            rc = self._main()
        n, ok = self._check(rc)
        selfs = prefix_self_times([
            ("scan", scan.duration), ("transform", tr.duration),
            ("render", render.duration), ("write", main.duration)])
        layers = {
            "migrate.sources.sqlite.plan_s": plan.duration,
            "migrate.sources.sqlite.scan_s": selfs["scan"],
            "migrate.operators.transform.self_s": selfs["transform"],
            "migrate.sinks.influx.render_self_s": selfs["render"],
            "migrate.sinks.influx.write_self_s": selfs["write"],
            "migrate.sinks.influx.points_written": n,
            "migrate.sinks.influx.writers": self.last["writers"],
            "migrate.sinks.influx.bytes_per_point":
                self.last["bytes"] / max(n, 1),
        }
        return main.duration, n, ok, layers

    def once(self, spark, rec) -> dict:
        """Per-pass counts that do not change between passes."""
        from ha_sqllite_2_influxdb_spark.sources.sqlite import read_ha_recorder

        rows = read_ha_recorder(spark, self.db,
                                boundary_ts=self.boundary)["states"].count()
        pts = self.last.get("points", 0)
        return {"migrate.sources.sqlite.rows_read": rows,
                "migrate.useful_ratio": pts / max(rows, 1)}


#: the ten dashboard request kinds, as registry names
DASHBOARD_KINDS = (
    "influxql_text_downsample", "influxql_text_counter_rate",
    "influxql_text_top", "influxql_text_raw", "influxql_text_summary",
    "influxql_show_tag_values", "flux_window_fill_prev",
    "flux_last_per_series", "flux_top_sensors", "flux_quantile",
)


def dashboard_texts() -> dict[str, tuple[str, str]]:
    """kind -> (language, query text), the texts the registry entries
    compile (so the registry's oracles answer them)."""
    from ha_sqllite_2_influxdb_spark.plans import flux_text, influxql_text

    q = influxql_text
    influx = {
        "influxql_text_downsample": q._Q_DOWNSAMPLE,
        "influxql_text_counter_rate": q._Q_RATE,
        "influxql_text_top": q._Q_TOP,
        "influxql_text_raw": q._Q_RAW,
        "influxql_text_summary": q._Q_SUMMARY,
        "influxql_show_tag_values": q._Q_SHOW_TAGVALS,
    }
    out = {k: ("influxql", t) for k, t in influx.items()}
    for k in DASHBOARD_KINDS:
        if k.startswith("flux_"):
            out[k] = ("flux", flux_text.FLUX_TEXTS[k])
    return out


CURATE_KINDS = ("curate_pipeline", "neardup_pairs")


class Query:
    #: operations in one block: one request of every kind
    block_ops = len(DASHBOARD_KINDS) + len(CURATE_KINDS)
    warmup_ops = block_ops
    op_spans = ("compile", "exec", "plans.llm_ops.build",
                "plans.llm_ops.exec", "lsh")

    def __init__(self, inputs: dict[str, dict], seed: int):
        events = inputs["events.parquet"]
        docs = inputs["documents.parquet"]
        # both tables live in one directory, which the engine reads as
        # its table directory
        self.dir = os.path.dirname(events["path"])
        self.texts = dashboard_texts()
        self.docs = docs["docs"]
        self.exact_pairs = {tuple(p) for p in docs["exact_pairs"]}
        self.expected = {
            **oracle.registry_answers("events", events["path"],
                                      list(DASHBOARD_KINDS)),
            **oracle.registry_answers("documents", docs["path"],
                                      ["curate_pipeline"]),
        }
        self._rng = random.Random(seed)
        self._queue: list[str] = []
        #: the kind of the latest request
        self.stratum = ""

    def next_kind(self) -> str:
        """Seeded order in blocks of one shuffled request per kind, so
        every block is the same mix."""
        if not self._queue:
            self._queue = list(DASHBOARD_KINDS + CURATE_KINDS)
            self._rng.shuffle(self._queue)
        self.stratum = self._queue.pop()
        return self.stratum

    def _compile(self, spark, lang: str, text: str):
        from ha_sqllite_2_influxdb_spark.plans.flux_text import compile_flux
        from ha_sqllite_2_influxdb_spark.plans.influxql_text import (
            compile_influxql)

        if lang == "influxql":
            return compile_influxql(spark, self.dir, text)
        return compile_flux(text)(spark, self.dir)

    def _pipeline(self, spark):
        from ha_sqllite_2_influxdb_spark.plans.llm_ops import (
            q_curate_pipeline)

        return q_curate_pipeline(spark, self.dir)

    def _pairs(self, spark):
        from ha_sqllite_2_influxdb_spark.operators import dedup

        return dedup.neardup_pairs(self._corpus(spark), threshold=0.5,
                                   n_seeds=8)

    def _corpus(self, spark):
        from ha_sqllite_2_influxdb_spark.sources.tables import load_table

        return load_table(spark, self.dir, "documents").select(
            "doc_id", "text")

    def _build(self, spark, kind: str):
        if kind == "curate_pipeline":
            return self._pipeline(spark)
        if kind == "neardup_pairs":
            return self._pairs(spark)
        return self._compile(spark, *self.texts[kind])

    def _check(self, kind: str, df, rows) -> bool:
        if kind == "neardup_pairs":
            # every planted exact-duplicate pair is a near-duplicate pair
            found = {(r["doc_a"], r["doc_b"]) for r in rows}
            return self.exact_pairs <= found
        cols, want = self.expected[kind]
        return (sorted(df.columns) == cols
                and oracle.canon_rows(df.columns, rows) == want)

    def op(self, spark) -> tuple[float, int, bool]:
        kind = self.next_kind()
        t0 = time.perf_counter()
        df = self._build(spark, kind)
        rows = df.collect()
        dt = time.perf_counter() - t0
        return dt, 1, self._check(kind, df, rows)

    def traced_op(self, spark, rec) -> tuple[float, int, bool, dict]:
        kind = self.next_kind()
        if kind == "curate_pipeline":
            with rec.span("plans.llm_ops.build") as c:
                df = self._pipeline(spark)
            with rec.span("plans.llm_ops.exec") as e:
                rows = df.collect()
            layers = {"curate.plans.llm_ops.build_s": c.duration,
                      "curate.plans.llm_ops.exec_s": e.duration}
        elif kind == "neardup_pairs":
            with rec.span("lsh") as e:
                df = self._pairs(spark)
                rows = df.collect()
            c = None
            layers = {"curate.operators.dedup.neardup_s": e.duration}
        else:
            from ha_sqllite_2_influxdb_spark.plans.flux_text import (
                parse_flux)
            from ha_sqllite_2_influxdb_spark.plans.influxql_text import (
                parse_influxql)

            lang, text = self.texts[kind]
            parse = parse_influxql if lang == "influxql" else parse_flux
            mod = "influxql_text" if lang == "influxql" else "flux_text"
            with rec.span("parse") as p:
                parse(text)
            with rec.span("compile") as c:
                df = self._compile(spark, lang, text)
            with rec.span("exec") as e:
                rows = df.collect()
            layers = {
                f"dashboard.plans.{mod}.parse_s": p.duration,
                # compile_* parses again internally; take the parse out
                f"dashboard.plans.{mod}.compile_s": c.duration - p.duration,
                "dashboard.exec_s": e.duration,
                "dashboard.rows_returned": len(rows),
                f"dashboard.{kind}.latency_p50_s": c.duration + e.duration,
            }
        dt = e.duration + (c.duration if c is not None else 0.0)
        return dt, 1, self._check(kind, df, rows), layers

    def once(self, spark, rec) -> dict:
        """The curation operators, each materialized on the same corpus,
        and the share of documents that survive exact dedup and
        decontamination (the pool the pipeline ranks)."""
        from ha_sqllite_2_influxdb_spark.operators import curation, dedup

        docs = self._corpus(spark)
        bench = curation.benchmark_prefixes(docs)
        with rec.span("operators.dedup.exact") as exact:
            _noop(dedup.dedup_exact(docs))
        with rec.span("operators.curation.decontaminate") as dec:
            _noop(curation.decontaminate(docs, bench))
        with rec.span("operators.curation.quality") as qual:
            _noop(docs.select("doc_id",
                              curation.content_quality(F.col("text"))))
        keep = dedup.dedup_exact(docs).select(
            F.col("keep_doc_id").alias("doc_id"))
        flagged = curation.decontaminate(docs, bench).select("doc_id")
        kept = (docs.join(keep, "doc_id", "left_semi")
                .join(flagged, "doc_id", "left_anti").count())
        return {
            "curate.operators.dedup.exact_s": exact.duration,
            "curate.operators.curation.decontaminate_s": dec.duration,
            "curate.operators.curation.quality_s": qual.duration,
            "curate.docs_kept_ratio": kept / self.docs,
        }


def make(name: str, inputs: dict[str, dict], work_dir: str, seed: int):
    if name == "migrate":
        return Migrate(inputs, work_dir)
    return Query(inputs, seed)
