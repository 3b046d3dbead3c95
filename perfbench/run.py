"""Layered benchmark of the engine: seeded closed-loop workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see workloads.py):

- ``tpch_headline``: bench.py's 15 HEADLINE queries, clock from the
  registry call (DataFrame build) to a finished noop write.
- ``broker_serve``: HTTP POSTs of native and SQL queries to a started
  DruidBrokerShim over events stored as 30 daily real-LZ4 segments.
- ``segment_scan``: ``druidsegment`` reads of lineitem stored as 7 yearly
  real-LZ4 segments, rolled up or filtered and collected.
- ``segment_ingest``: ``write_druid_segments`` of events into 30 daily
  segments.

BENCHMARK.json lists the first two: four workloads do not fit the time
its runs are allowed. A traced broker_serve run also measures the ingest
layer (one write of the same events).

Each run starts its own Spark session on ``local[$SPARK_GRAFT_CPUS]``
(default 4), sets the program up three times (the first on a fresh JVM,
then restarting the session in the same JVM), warms up with requests
disjoint from the timed ones, then sends a fixed number of requests
that grows with ``--seconds`` (workloads.py: ``rate``), one at a time.
Every answer is checked against pyarrow or DuckDB outside the clock.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it describes the run: host, fixtures, every end-to-end metric the
workload supports (tail latency with its level and sample count, peak
memory, rows per second, error rate, ingest bytes per input byte), and,
when traced, which end-to-end metric each layer metric should move, the
layers' self times and the tracing overhead. Spans of a traced run are
written to ``.perfbench_work/traces/``.

Claims should be confirmed on ``HELD_OUT_SEED``, a seed not used while
tuning. Every file the benchmark writes stays under ``.perfbench_work``
in the checkout; it reads the test data directory (``--data-dir``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
HELD_OUT_SEED = 7919

# the end-to-end metrics of the result line (BENCHMARK.json): those every
# workload reports steadily; the others are in the run details (peak RSS
# varies ±15% between runs of identical code with the JVM's heap sizing)
RESULT_METRICS = ("latency_p50_ms", "requests_per_s", "setup_s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data-dir", default=os.path.expanduser("~/testdata"),
                   help="directory holding the sf*/ parquet test data "
                        "(the one bench.py and the tests read)")
    p.add_argument("--tpch-scale", default="sf0.01")
    p.add_argument("--segment-scale", default="sf0.1")
    return p.parse_args(argv)


def sandbox_env() -> None:
    """Keep every file Spark, the JVM and the program write inside the
    checkout (must run before pyspark is imported)."""
    for sub in ("tmp", "spark-local", "mirror", "warehouse", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_MIRROR_ROOT"] = os.path.join(WORK, "mirror")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # a bounded heap (the host's memory is shared); 2g made the JVM-heavy
    # tpch_headline runs noisier
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # the JVM's perf-data file would go to /tmp whatever its tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_hwm(pid) -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of a process."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
        f.write("5")


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it (never
    below the median: with fewer than 20 samples it is the median)."""
    n = len(latencies)
    level = max(0.5, 1 - 10 / n) if n else 0.5
    ranked = sorted(latencies)
    rank = max(1, math.ceil(level * n))
    return {
        "value": round(ranked[rank - 1] * 1e3, 3) if n else 0.0,
        "unit": "ms",
        "level": round(level, 4),
        "samples": n,
        "samples_beyond": n - rank,
    }


class Context:
    def __init__(self, args, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.work_dir = WORK
        self.tpch_sf = os.path.join(args.data_dir, args.tpch_scale)
        self.segment_sf = os.path.join(args.data_dir, args.segment_scale)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])


def run_loop(wl, spark, reqs, pids, traced: bool) -> list[dict]:
    """Send the requests one at a time. Returns one record per request,
    with its latency and the peak resident memory of the driver and the
    JVM during it; checks and traced probes run outside the clock and
    outside the loop's wall time."""
    import sparkstats

    tracer = wl.tracer
    records = []
    for i, req in enumerate(reqs):
        tracer.request = f"r{i}" if traced else None
        before = sparkstats.last_job_id(spark) if traced else None
        rec = {"req": req, "latency": None, "ok": False}
        for p in pids:
            reset_hwm(p)
        t0 = time.perf_counter()
        try:
            with tracer.span("request"):
                answer = wl.execute(req)
            rec["latency"] = time.perf_counter() - t0
            rec["rss_mb"] = sum(vm_hwm_kb(p) for p in pids) / 1024
        except Exception:
            traceback.print_exc(file=sys.stderr)
        t1 = time.perf_counter()
        if rec["latency"] is not None:
            if traced:
                jobs = sparkstats.jobs_since(spark, before)
                rec["jobs"] = len(jobs)
                rec["tasks"] = sum(j["tasks"] for j in jobs)
                wl.probe(req, answer, rec["latency"], jobs)
            tracer.enabled = False  # checks are not program work
            try:
                rec["ok"] = bool(wl.check(req, answer))
            except Exception:
                traceback.print_exc(file=sys.stderr)
            tracer.enabled = traced
        rec["paused"] = time.perf_counter() - t1
        rec["end"] = time.perf_counter()
        records.append(rec)
    tracer.request = None
    return records


def summarize(wl, records: list[dict], wall: float) -> dict:
    lat = [r["latency"] for r in records if r["latency"] is not None]
    done = [r for r in records if r["latency"] is not None]
    rows = sum(wl.rows(r["req"]) for r in done)
    out = {
        "latency_p50_ms": {"value": round(statistics.median(lat) * 1e3, 3)
                           if lat else 0.0, "unit": "ms"},
        "latency_tail_ms": tail(lat),
        "requests_per_s": {"value": round(len(done) / wall, 6), "unit": "1/s"},
    }
    if rows:
        out["rows_per_s"] = {"value": round(rows / wall, 3), "unit": "rows/s"}
    return out


def loop_wall(records: list[dict], start: float) -> float:
    """Loop wall time without the untimed checks and probes between
    requests."""
    end = records[-1]["end"] if records else start
    return max(end - start - sum(r["paused"] for r in records), 1e-9)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "druid_datafusion_bridge_spark"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(
            f"perfbench: the program (druid_datafusion_bridge_spark/, bench.py) "
            f"is not in {ROOT}; run from the repository root",
            file=sys.stderr,
        )
        return 2
    sandbox_env()
    sys.path[:0] = [ROOT, HERE]

    import layers
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    tracer = Tracer(enabled=traced)
    ctx = Context(args, tracer)
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.prepare()  # fixtures, request lists, expected answers: not timed
    prepare_s = time.perf_counter() - t0

    from druid_datafusion_bridge_spark import get_spark

    # set-up, three times: the first on a fresh JVM, then a session
    # restart in the same JVM; setup_s is their median plus the warm-up
    setup_reps = []
    spark = None
    try:
        for _ in range(3):
            t0 = time.perf_counter()
            if spark is not None:
                wl.close()
                spark.stop()
            spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=spark_conf())
            wl.setup(spark)
            setup_reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warmup_wrong = wl.warmup()
        warmup_s = time.perf_counter() - t0
        pids = (os.getpid(), jvm_pid())
        setup_rss_mb = sum(vm_hwm_kb(p) for p in pids) / 1024

        n = wl.n_timed
        tracer.enabled = False
        start = time.perf_counter()
        records = run_loop(wl, spark, wl.timed[:n], pids, traced=False)
        wall = loop_wall(records, start)
        traced_records = []
        if traced:
            tracer.enabled = True
            layers.install_wrappers(tracer)
            start = time.perf_counter()
            traced_records = run_loop(wl, spark, wl.timed[n:], pids, traced=True)
            traced_wall = loop_wall(traced_records, start)
            wl.probe_once()
            tracer.unwrap_all()
        run_failures = wl.finish()
        host = layers.host(spark, ROOT)
        if traced:
            host["anchors"] = layers.anchors(spark, ctx)
        wl.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.cleanup()

    sent = records + traced_records
    failed = sum(1 for r in sent if r["latency"] is None)
    wrong = sum(1 for r in sent if r["latency"] is not None and not r["ok"])
    wrong += run_failures + warmup_wrong
    attempted = len(sent) + len(wl.warm)  # warm-up answers are checked too
    e2e = summarize(wl, records, wall)
    e2e["error_rate"] = {
        "value": (failed + wrong) / max(attempted, 1), "unit": "ratio"}
    # the peak resident memory of one request, median over the requests
    rss = [r["rss_mb"] for r in records if r["latency"] is not None]
    e2e["peak_rss_mb"] = {
        "value": round(statistics.median(rss), 3) if rss else 0.0, "unit": "MB"}
    e2e["setup_s"] = {
        "value": round(statistics.median(setup_reps) + warmup_s, 4), "unit": "s"}
    details = {
        "workload": wl.name,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "end_to_end": e2e,
        "prepare_s": round(prepare_s, 4),
        "setup_reps_s": [round(s, 4) for s in setup_reps],
        "warmup_s": round(warmup_s, 4),
        "setup_peak_rss_mb": round(setup_rss_mb, 3),
        "latencies_ms": [
            round(r["latency"] * 1e3, 3) if r["latency"] is not None else None
            for r in records
        ],
        "failed_requests": failed,
        "wrong_answers": wrong,
        **wl.details(),
    }
    if traced:
        metrics, layer_details = layers.per_layer(
            wl, tracer, records, traced_records, traced_wall
        )
        details.update(layer_details)
        path = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"workload": wl.name, "seed": args.seed,
                       "spans": tracer.spans}, f)
        details["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {k: e2e[k] for k in RESULT_METRICS}
    print(json.dumps({"perfbench": details}, default=str))
    print(json.dumps({
        "correct": failed + wrong == 0,
        "attempted": attempted,
        "failed": failed + wrong,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
