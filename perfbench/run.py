#!/usr/bin/env python3
"""The repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload {migrate,query} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The run generates its input from the
seed, builds a local Spark session on every core, sets up (process
start -> end of the first, cold block of operations: one request of
every kind), then runs warm operations in a closed loop with one client
for ``--seconds`` seconds, checking every output against an
independent DuckDB answer.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans around the benchmark's own calls into the engine, plus
Spark counters read from the event log). The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``. The
full record of each run goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import gen
import stats
import system
import workloads
from spans import OpCounters, SpanRecorder, counters_by_label, read_event_logs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("migrate", "query")
DRIVER_MEM = "1g"
SPARK_METRICS = ("jobs", "stages", "tasks", "failed_tasks",
                 "shuffle_write_bytes", "executor_cpu_s", "gc_s",
                 "task_skew", "core_busy_ratio")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _spark_env(run_dir: str, nproc: int, trace: bool) -> None:
    """Deployment settings the engine already reads, plus a Spark conf
    directory owned by the benchmark; everything Spark writes stays
    under ``run_dir``."""
    conf_dir = os.path.join(run_dir, "spark-conf")
    tmp = os.path.join(run_dir, "tmp")
    for d in (conf_dir, tmp, os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + log_dir})
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        for k, v in conf.items():
            f.write(f"{k} {v}\n")
    os.environ.update({
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # the short-lived JVM spark-submit starts to build the command
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = tmp


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.kill()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_children(timeout_s: float = 60.0) -> None:
    deadline = time.monotonic() + timeout_s
    while len(system.tree_pids(os.getpid())) > 1:
        if time.monotonic() > deadline:
            break
        time.sleep(0.1)


def _attempt(fn):
    """Run one operation; an exception counts as a failed operation."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - a failed operation, reported
        traceback.print_exc(file=sys.stderr)
        return None


def _metric_names(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def end_to_end(lat: list[float], strata: list[str], work: list[int],
               setup_s: float, peak_mb: float) -> dict[str, float]:
    w = stats.mix_weights(strata)
    return {
        "setup_s": setup_s,
        # closed loop, one client: work per second of operation time,
        # over the same uniform mix as the quantiles
        "rate_per_s": (sum(wi * n for wi, n in zip(w, work))
                       / sum(wi * t for wi, t in zip(w, lat))),
        "latency_p50_s": stats.quantile(lat, 0.5, w),
        "latency_p90_s": stats.quantile(lat, 0.9, w),
        "peak_rss_mb": peak_mb,
    }


def run(args) -> int:
    if not (os.path.isdir(os.path.join(ROOT, "ha_sqllite_2_influxdb_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        return _fail("the engine package is not in this checkout")
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    names = _metric_names(trace)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    nproc = system.nproc()
    _spark_env(run_dir, nproc, trace)
    # the host record (with its CPU probe), input generation and the
    # oracle answers are harness work: timed, reported, and kept out of
    # setup_s
    t0 = time.perf_counter()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": system.host_record()}
    inputs = gen.generate(args.workload, args.seed,
                          os.path.join(run_dir, "input", args.workload))
    record["input"] = {
        name: {k: v for k, v in props.items() if k != "exact_pairs"}
        for name, props in inputs.items()}
    for name, props in record["input"].items():
        print(f"input {name}: {json.dumps(props)}")
    wl = workloads.make(args.workload, inputs, run_dir, args.seed)
    harness_s = time.perf_counter() - t0
    gen_s = sum(p["gen_s"] for p in inputs.values())
    print(f"harness: {harness_s:.3f} s, of which generator {gen_s:.3f} s")

    from ha_sqllite_2_influxdb_spark.session import get_spark

    attempted = failed = 0
    lat: list[float] = []
    strata: list[str] = []
    work: list[int] = []
    layer_samples: dict[str, list[float]] = {}
    #: workload -> {op id: wall} of its traced operations
    op_walls: dict[str, dict[int, float]] = {}
    measured_once: dict = {}
    rec: SpanRecorder | None = None

    def count(ok: bool) -> bool:
        nonlocal attempted, failed
        attempted += 1
        failed += not ok
        return ok

    def phase(name: str):
        """In traced runs, a new operation id and its span."""
        if rec is None:
            return contextlib.nullcontext()
        rec.new_op()
        return rec.span(name)

    def untimed(w, n: int, name: str) -> None:
        for _ in range(n):
            with phase(name):
                res = _attempt(lambda: w.op(spark))
            count(res is not None and res[2])

    def loop(w, name: str, more) -> None:
        """Closed loop, one client: the next operation starts when the
        previous one ends, while ``more(operations so far)``."""
        n = 0
        while more(n):
            n += 1
            if trace:
                op = rec.new_op()
                res = _attempt(lambda: w.traced_op(spark, rec))
            else:
                res = _attempt(lambda: w.op(spark))
            if not count(res is not None and res[2]):
                continue
            if w is wl:
                lat.append(res[0])
                strata.append(w.stratum)
                work.append(res[1])
            if trace:
                op_walls.setdefault(name, {})[op] = res[0]
                for k, v in res[3].items():
                    layer_samples.setdefault(k, []).append(v)

    def once(w) -> None:
        with phase("once"):
            res = _attempt(lambda: w.once(spark, rec))
        if count(res is not None):
            measured_once.update(res)

    traced_wls = {args.workload: wl}
    with system.PeakRss() as rss:
        spark = get_spark("perfbench")
        rec = SpanRecorder(spark) if trace else None
        # set-up: process start -> end of the first block, which runs
        # every request kind cold (memo builds and fits included)
        untimed(wl, wl.block_ops, "setup")
        setup_s = system.process_age_s() - harness_s
        # the first blocks after set-up still run faster each time (JIT);
        # a warm-up block keeps the steepest part of that trend out of
        # the window
        untimed(wl, wl.warmup_ops, "warmup")
        # the window closes after --seconds and once every stratum has a
        # sample (set-up ran one whole block, so the loop starts a fresh
        # one; the cap stops a kind that always fails)
        deadline = time.perf_counter() + args.seconds
        loop(wl, args.workload, lambda n: (
            time.perf_counter() < deadline
            or (len(set(strata)) < wl.block_ops and n < 2 * wl.block_ops)))
        peak_mb, peak_split = rss.peak_mb, dict(rss.peak_by_command)
        if trace:
            once(wl)
            # a traced run reports every layer: after its own window it
            # sets up every other workload (one cold block) and traces
            # one block of it
            for other in WORKLOADS:
                if other == args.workload:
                    continue
                t1 = time.perf_counter()
                wo = workloads.make(other, gen.generate(
                    other, args.seed, os.path.join(run_dir, "input", other)),
                    run_dir, args.seed)
                record[f"{other}_harness_s"] = time.perf_counter() - t1
                traced_wls[other] = wo
                untimed(wo, wo.block_ops, "setup")
                loop(wo, other, lambda n: n < wo.block_ops)
                once(wo)
        record["versions"] = {
            "python": record["host"]["python"],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
        }
        _stop_jvm(spark)
        _wait_children()
    one, five = system.loadavg()
    record["host"]["loadavg_end"] = {"1m": one, "5m": five}
    total0, steal0 = record["host"].pop("cpu_ticks_start")
    total1, steal1 = system.cpu_ticks()
    record["host"]["cpu_steal_share"] = (steal1 - steal0) / max(
        total1 - total0, 1)
    record["harness_s"] = harness_s
    record["peak_rss_by_command_mb"] = peak_split
    record["setup_s"] = setup_s
    record["latency_samples_s"] = lat
    record["strata"] = strata
    record["attempted"], record["failed"] = attempted, failed
    if not lat:
        print("perfbench: no warm operation succeeded", file=sys.stderr)
        return 1

    e2e = end_to_end(lat, strata, work, setup_s, peak_mb)
    if not trace:
        metrics = e2e
        if len(lat) < 100:
            record["latency_p90_note"] = (
                f"{len(lat)} samples < 100: fewer than ten lie beyond p90")
    else:
        metrics = {k: statistics.median(v) for k, v in layer_samples.items()}
        metrics.update(measured_once)
        # Spark counters per end-to-end operation, from the event log
        by_label = counters_by_label(read_event_logs(
            os.path.join(run_dir, "eventlog")))
        for name, walls in op_walls.items():
            per_op: dict[str, list[float]] = {m: [] for m in SPARK_METRICS}
            for op, wall in walls.items():
                c = OpCounters()
                for span in traced_wls[name].op_spans:
                    if (op, span) in by_label:
                        c.add(by_label[(op, span)])
                for m in SPARK_METRICS:
                    per_op[m].append(
                        c.task_busy_s / (nproc * wall)
                        if m == "core_busy_ratio" else getattr(c, m))
            for m, vs in per_op.items():
                metrics[f"{name}.spark.{m}"] = statistics.median(vs)
        rec.write(os.path.join(results, f"{tag}-spans.json"))
        record["traced_end_to_end"] = e2e
        untraced = os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            record["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
        else:
            record["tracing_overhead"] = (
                "no untraced result for this workload and seed")
    unknown = set(metrics) - set(names)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    missing = set(names) - set(metrics)
    if missing:
        # a layer whose every operation failed has no figure to report
        print(f"perfbench: not measured: {sorted(missing)} "
              f"({failed}/{attempted} operations failed)", file=sys.stderr)
        return 1
    record["metrics"] = metrics
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"run: {args.workload} seed {args.seed}, {len(lat)} warm "
          f"operations in {args.seconds} s")
    if not trace and "latency_p90_note" in record:
        print(f"note: latency_p90_s: {record['latency_p90_note']}")
    if trace:
        print(f"tracing overhead (traced - untraced): "
              f"{record['tracing_overhead']}")
    print(f"fail_ratio = {failed / max(attempted, 1):.4f} "
          f"({failed}/{attempted})")
    for k in sorted(metrics):
        print(f"{k} = {metrics[k]:.6g} {names[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": names[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Seeded benchmark of the engine's public entry points.")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
